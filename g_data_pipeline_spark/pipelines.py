"""End-to-end corpus curation — the composed training-data pipeline:

    quality-score -> filter -> language-ID -> fingerprint dedup -> curated

Each stage is one of the engine's own operators (functions.text,
operators.dedup), composed LAZILY into a single DataFrame plan: Catalyst
sees the whole pipeline, so the quality filter prunes rows before the
dedup shuffle, and the only wide operations are the dedup window (one
shuffle on the fingerprint) — exactly what you want when the input is
100 TB of raw documents and 40% of it dies at the filter.

At scale, follow with ``.write.partitionBy("lang_pred").parquet(...)`` so
downstream per-language training jobs get partition pruning for free.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from g_data_pipeline_spark.functions.text import (
    fingerprint_md5,
    lang_id,
    quality_features,
    token_count,
)


def curate_documents(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_tokens: int = 10,
    max_digit_ratio: float = 0.3,
) -> DataFrame:
    """Curated corpus: quality-filtered, language-tagged, exact-deduped
    (normalized-fingerprint, MIN-id survivor). Returns (id, lang_pred,
    n_tokens, digit_ratio) plus the original text column."""
    feats = quality_features(text_col)
    scored = df.select(
        F.col(id_col),
        F.col(text_col),
        token_count(text_col).cast("long").alias("n_tokens"),
        F.coalesce(feats["digit_ratio"], F.lit(0.0)).alias("digit_ratio"),
        lang_id(text_col).alias("lang_pred"),
        fingerprint_md5(text_col).alias("__fp"),
    )
    filtered = scored.filter(
        (F.col("n_tokens") >= min_tokens)
        & (F.col("digit_ratio") <= max_digit_ratio)
    )
    w = Window.partitionBy("__fp").orderBy(F.col(id_col).asc())
    return (
        filtered.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "__fp")
    )


def curation_attrition(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_tokens: int = 10,
    max_digit_ratio: float = 0.3,
) -> DataFrame:
    """Per-document drop-reason audit for :func:`curate_documents` — the
    Dolma-style attrition ledger ("why did each doc die"): every input
    row labeled with the FIRST gate that rejected it, in gate order:

      too_few_tokens -> digit_heavy -> exact_duplicate -> kept

    Survivorship is decided among QUALITY-PASSING docs only (matching
    curate_documents, which filters before it dedups — a duplicate of a
    rejected doc is judged on its own merits). Returns (id, n_tokens,
    stage) plus every input column. One content-keyed shuffle (the
    fingerprint canon aggregate); the labels are row-local."""
    feats = quality_features(text_col)
    scored = df.select(
        "*",
        token_count(text_col).cast("long").alias("n_tokens"),
        F.coalesce(feats["digit_ratio"], F.lit(0.0)).alias("__dr"),
        fingerprint_md5(text_col).alias("__fp"),
    )
    canon = (
        scored.filter(
            (F.col("n_tokens") >= min_tokens)
            & (F.col("__dr") <= max_digit_ratio)
        )
        .groupBy("__fp")
        .agg(F.min(id_col).alias("__keep_id"))
    )
    labeled = scored.join(canon, "__fp", "left").withColumn(
        "stage",
        F.when(F.col("n_tokens") < min_tokens, F.lit("too_few_tokens"))
        .when(F.col("__dr") > max_digit_ratio, F.lit("digit_heavy"))
        .when(F.col(id_col) != F.col("__keep_id"), F.lit("exact_duplicate"))
        .otherwise(F.lit("kept")),
    )
    return labeled.drop("__fp", "__dr", "__keep_id")


def curate_image_text(
    pairs: DataFrame,
    id_col: str = "pair_id",
    content_col: str = "content",
    caption_col: str = "caption",
    clip_threshold_micro: int = 450_000,
    model: str = "fake",
    codec: str = "fake",
    **filter_kwargs,
) -> DataFrame:
    """Curated image-text corpus — the multimodal twin of
    :func:`curate_documents`, composing the LAION-style stack
    (multimodal/imagetext.py): resolution/aspect + caption + CLIP gates,
    then near-duplicate IMAGE collapse — within each aHash cluster the
    HIGHEST-CLIP pair survives (the published LAION recipe keeps the
    best-aligned caption per duplicated image, not the smallest id).
    Returns the surviving pairs with their gate columns.

    Shape: gates are scan-side (one dims decode + one scoring kernel +
    JVM caption expressions); the only shuffles are the pHash groupBy
    (keyed on hash content) and the WindowGroupLimit-pruned survivor
    pick. Swapping ``model='clip'`` / ``codec='pil'`` flips fake to real
    with no plan change (the seams raise until the libs exist)."""
    from g_data_pipeline_spark.multimodal.imagetext import image_text_filter
    from g_data_pipeline_spark.multimodal.media import image_phash

    gates = image_text_filter(
        pairs,
        id_col,
        content_col,
        caption_col,
        clip_threshold_micro=clip_threshold_micro,
        model=model,
        codec=codec,
        **filter_kwargs,
    ).filter(F.col("keep"))
    hashes = image_phash(pairs, id_col, content_col, codec=codec).select(
        F.col("media_id").alias("pair_id"), "phash"
    )
    w = Window.partitionBy("phash").orderBy(
        F.col("clip_micro").desc(), F.col("pair_id").asc()
    )
    return (
        gates.join(hashes, "pair_id")
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def crawl_curation_tick(
    spark,
    dump: DataFrame,
    base_dir: str,
    dump_id: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    url_col: str | None = None,
    min_tokens: int = 10,
    max_digit_ratio: float = 0.3,
    window_tokens: int = 50,
    num_hashes: int = 32,
    bands: int = 8,
    retain_versions: int | None = None,
    max_files: int = 32,
) -> dict:
    """ONE crawl dump through the full incremental curation stack, with
    exactly-once commits — the production tick a 100 TB pipeline runs per
    dump (the RefinedWeb/Gopher shape, composed from this repo's
    operators):

      URL-level filter (optional, ``url_col`` — functions/urls.py; the
        cheapest gate runs first, zero-shuffle scan-stage)
      -> quality gate + within-dump exact dedup   (curate_documents)
      -> exact dedup vs the fingerprint archive (anti-join, as-of-parent)
      -> substring-level cut vs the window-hash directory (Lee et al.)
      -> near-dup drop vs the MinHash band archive (banding decides)
      -> commit survivors + all three archive deltas through the txn
         manifest protocol (one run_id per table per dump)
      -> optional directory maintenance (compaction/retention/marker GC)

    Exactly-once: every directory is read AS OF the version preceding
    this dump's own delta (txn.read_as_of_run — a replay sees what
    the first attempt saw), every commit no-ops on its run_id, and a
    fully-committed dump short-circuits on the output run_id. Replay
    safety holds within the retention horizon — vacuuming a dump's
    manifests forfeits its replay no-op (the standard lakehouse
    contract). Archive growth: only SURVIVORS extend any archive (a
    future exact copy of a dropped near-dup is still caught — its
    survivor's bands are archived); the substring delta is taken before
    the near-dup stage (content-level: a later copy of cut text is a
    duplicate regardless of which doc carried it first).

    Returns a report dict (counts, committed versions, maintenance).
    """
    from g_data_pipeline_spark.functions.text import fingerprint_md5
    from g_data_pipeline_spark.operators.dedup import (
        incremental_minhash_dedup,
        incremental_substring_dedup,
        minhash_band_directory,
    )
    from g_data_pipeline_spark.sources import txn

    fp_table = f"{base_dir}/fingerprint_directory"
    sub_table = f"{base_dir}/substring_directory"
    band_table = f"{base_dir}/band_directory"
    out_table = f"{base_dir}/clean_docs"
    rid = f"dump-{dump_id}"

    done = txn.find_run_version(spark, out_table, f"{rid}-out")
    if done is not None:  # fully-committed dump: replay is a pure no-op
        return {
            "dump_id": dump_id,
            "replay": True,
            "versions": {"clean_docs": done},
        }

    staged = dump
    if url_col is not None:
        from g_data_pipeline_spark.functions.urls import url_quality_signals

        staged = dump.filter(
            url_quality_signals(F.col(url_col))["keep"]
        )
    curated = curate_documents(
        staged, id_col, text_col, min_tokens, max_digit_ratio
    )

    # exact vs archive — fingerprints of every previously KEPT doc
    fp_dir = txn.read_as_of_run(
        spark, fp_table, f"{rid}-fp",
        lambda: spark.createDataFrame([], "fingerprint string"),
    )
    batch_fp = curated.withColumn("__fp", fingerprint_md5(text_col))
    fresh = batch_fp.join(
        fp_dir.select(F.col("fingerprint").alias("__fp")),
        "__fp",
        "left_anti",
    )
    # r11 (guide §5 lineage-cut + §1 measured): materialize ONCE per
    # STAGE BOUNDARY instead of once per commit frame. The four frame
    # checkpoints each re-ran the whole curate -> fp-anti -> substring ->
    # banding tree (different DataFrames share no RDDs, so nothing is
    # stage-reused across their jobs): measured 12.4 s of a 15.5 s
    # steady sf0.1-volume dump (out 4.1 s, band_delta 3.6 s, fp_delta
    # 4.0 s, sub_delta 0.7 s). With the boundaries pinned, curate and
    # the substring cut run once each, banding runs once for the keep
    # decision and once for its delta, and every commit frame is a
    # cheap derivation of a checkpoint. Same jobs at any scale — this
    # removes recomputation, not distribution.
    fresh = fresh.localCheckpoint(eager=True)

    # substring-level cut vs the window-hash directory
    sub_dir = txn.read_as_of_run(
        spark, sub_table, f"{rid}-sub",
        lambda: spark.createDataFrame(
            [], "h string, owner_id long, owner_pos int"
        ),
    )
    cleaned, sub_delta = incremental_substring_dedup(
        fresh, sub_dir, id_col, text_col, window_tokens
    )
    enriched = cleaned.join(
        fresh.select(
            F.col(id_col).alias("id"), "lang_pred", "__fp"
        ),
        "id",
    ).localCheckpoint(eager=True)

    # near-dup vs the band archive, on the CLEANED text
    band_dir = txn.read_as_of_run(
        spark, band_table, f"{rid}-band",
        lambda: minhash_band_directory(
            enriched.limit(0), "id", "dedup_text",
            num_hashes=num_hashes, bands=bands,
        ),
    )
    labeled, band_delta = incremental_minhash_dedup(
        enriched, band_dir, "id", "dedup_text",
        num_hashes=num_hashes, bands=bands,
    )
    keep = (
        labeled.filter(~F.col("is_dup")).select("id")
        .localCheckpoint(eager=True)
    )
    out = enriched.join(keep, "id", "left_semi").select(
        F.col("id").alias(id_col),
        F.col("dedup_text").alias(text_col),
        "n_tokens",
        "n_tokens_kept",
        "lang_pred",
    )
    # each commit frame now derives from a checkpoint in one cheap step
    # (band_delta alone re-runs the banding pass, on the checkpointed
    # enriched input); commit_write stages each with a single action and
    # out is additionally counted once below.
    fp_delta = (
        enriched.join(keep, "id", "left_semi")
        .select(F.col("__fp").alias("fingerprint"))
        .distinct()
    )

    versions = {
        "fingerprints": txn.commit_write(
            spark, fp_delta, fp_table, run_id=f"{rid}-fp"
        ),
        "substring": txn.commit_write(
            spark, sub_delta, sub_table, run_id=f"{rid}-sub"
        ),
        "bands": txn.commit_write(
            spark, band_delta, band_table, run_id=f"{rid}-band"
        ),
        "clean_docs": txn.commit_write(
            spark, out, out_table, run_id=f"{rid}-out"
        ),
    }
    maintenance = {}
    if retain_versions is not None:
        # clean_docs included since round 8: compaction commits carry
        # rewrite_of, so consume_incremental readers skip the pure
        # rewrite instead of breaking (txn.read_incremental; verdict
        # #3). Consumers must still keep up within retain_versions —
        # vacuuming a checkpointed manifest forces a snapshot rebuild
        # (the standard retention contract, unchanged).
        for t in (fp_table, sub_table, band_table, out_table):
            maintenance[t.rsplit("/", 1)[-1]] = txn.maintain_table(
                spark, t, retain_versions=retain_versions,
                max_files=max_files,
            )
    return {
        "dump_id": dump_id,
        "replay": False,
        "n_input": dump.count(),
        "n_kept": out.count(),
        "versions": versions,
        "maintenance": maintenance,
    }


def split_leakage_report(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    group_cols: list[str] | None = None,
    splits: dict[str, float] | None = None,
    seed: str = "",
    n: int = 3,
    leak_fraction: float = 0.5,
) -> DataFrame:
    """The post-split leakage audit every training pipeline should run
    before shipping a train/val/test cut: assign splits (group-keyed via
    sampling.group_split when ``group_cols`` is given, else row-level on
    the id — the UNSAFE baseline the audit exists to catch), then
    measure cross-SPLIT document-level shingle containment
    (operators/contamination.cross_source_contamination with the split
    label as the source) and roll up per (split, other_split):

      (split, other_split, n_docs_overlapping — any shared shingle,
       n_docs_leaked — containment >= leak_fraction,
       max_contamination_micro)

    A zero-row report means no cross-split shingle sharing at all; rows
    with n_docs_leaked > 0 mean eval items are effectively IN train.
    Shuffles: group_split is row-local; the audit's joins key on shingle
    content and doc id (never all-pairs) — the same scale shape as the
    source-contamination report it reuses.
    """
    from g_data_pipeline_spark.operators.contamination import (
        cross_source_contamination,
    )
    from g_data_pipeline_spark.operators.sampling import group_split

    assigned = group_split(
        df, group_cols if group_cols else [id_col], splits, seed
    )
    per_doc = cross_source_contamination(
        assigned, id_col, "split", text_col, n
    )
    return (
        per_doc.groupBy(
            F.col("split"), F.col("other_source").alias("other_split")
        )
        .agg(
            F.count(F.lit(1)).alias("n_docs_overlapping"),
            F.count_if(
                F.col("contamination") >= F.lit(float(leak_fraction))
            ).alias("n_docs_leaked"),
            F.round(F.max("contamination") * F.lit(1e6))
            .cast("long")
            .alias("max_contamination_micro"),
        )
        .orderBy("split", "other_split")
    )


def curate_conversations(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    tiebreak_col: str = "event_id",
    role_col: str = "event_type",
    content_col: str = "props",
    gap_us: int = 30 * 60 * 1_000_000,
    min_turns: int = 2,
    min_roles: int = 2,
    max_alternation_breaks: int | None = None,
    max_tokens: int = 2048,
) -> DataFrame:
    """SFT conversation curation, composed (operators/conversations.py):

    1. assemble events into ordered multi-turn conversations (ONE
       user-keyed shuffle);
    2. transcript-level exact dedup (retried sessions, mirrored logs);
    3. structure gates — min turns/roles, optional alternation-break cap
       (all row-local on the turns array: no report join needed);
    4. whole-turn truncation to the context budget, re-gated on
       min_turns (a conversation reduced below it is dropped, not
       emitted half-empty);
    5. ChatML rendering to one training string per row.

    Returns (user, conv_idx, turns, turns_kept, tokens_kept, text) —
    feed ``text`` to export_training_shards / export_jsonl_shards.
    Everything after the assembly shuffle + the dedup fingerprint
    aggregate is row-local array work."""
    from g_data_pipeline_spark.operators.conversations import (
        assemble_conversations,
        dedup_conversations,
        render_chat_template,
        truncate_to_context,
    )

    convs = assemble_conversations(
        events, user_col, ts_col, tiebreak_col, role_col, content_col,
        gap_us,
    )
    deduped = dedup_conversations(convs)
    t = F.col("turns")
    roles = F.array_distinct(F.transform(t, lambda x: x["role"]))
    breaks = F.size(
        F.filter(
            F.zip_with(
                F.slice(t, 1, F.greatest(F.size(t) - 1, F.lit(0))),
                F.slice(t, 2, F.greatest(F.size(t) - 1, F.lit(0))),
                lambda a, b: a["role"] == b["role"],
            ),
            lambda x: x,
        )
    )
    gated = deduped.filter(
        (F.size(t) >= F.lit(int(min_turns)))
        & (F.size(roles) >= F.lit(int(min_roles)))
    )
    if max_alternation_breaks is not None:
        gated = gated.filter(breaks <= F.lit(int(max_alternation_breaks)))
    fitted = truncate_to_context(gated, max_tokens).filter(
        F.col("turns_kept") >= F.lit(int(min_turns))
    )
    return render_chat_template(fitted).orderBy("user", "conv_idx")


def export_training_shards(
    df: DataFrame,
    dest: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_shards: int = 16,
    min_tokens: int = 10,
    bpe_merges: int = 100,
    seq_len: int = 512,
) -> DataFrame:
    """The full training-data export: curate -> span-dedup -> BPE token
    budgets -> sequence packing -> deterministic sharding -> sharded
    parquet write. Returns the per-shard manifest (shard, n_docs, n_bins,
    total_tokens) AFTER the write completes.

    Composition notes (each stage is an existing operator — this function
    only wires them):
    - curate_documents: quality filter + exact dedup; rows die BEFORE any
      expensive downstream shuffle (Catalyst sees one lazy plan).
    - span_dedup (operators.dedup): corpus-level repeated-span removal on
      the surviving text.
    - bpe (operators.tokenizer): word-count pass + driver merge learning,
      then token budgets per doc — the packing currency.
    - pack_sequences (operators.packing): concat-and-chunk into seq_len
      bins per source stream.
    - shard = md5-bucket of the doc id (operators.sampling recipe):
      layout/engine-invariant, balanced, and the parquet partition key, so
      per-shard training readers get partition pruning for free.
    """
    from g_data_pipeline_spark.operators.dedup import span_dedup
    from g_data_pipeline_spark.operators.packing import pack_sequences
    from g_data_pipeline_spark.operators.sampling import hash_bucket_expr
    from g_data_pipeline_spark.operators.tokenizer import (
        bpe_encode,
        learn_bpe,
        word_counts,
    )

    curated = curate_documents(df, id_col, text_col, min_tokens=min_tokens)
    deduped = (
        span_dedup(curated.select(id_col, F.col(text_col)), id_col, text_col)
        .filter(F.col("spans_kept") > 0)
        # Two actions consume this subtree (the word-count collect below and
        # the sharded write): checkpoint so the curate+span-dedup lineage —
        # the dominant cost — runs once, not twice.
        .localCheckpoint(eager=True)
    )
    merges = learn_bpe(
        word_counts(deduped, "dedup_text", top_words=20_000), bpe_merges
    )
    budgets = bpe_encode(deduped, id_col, "dedup_text", merges)
    packed = pack_sequences(
        budgets.select(
            F.col("id").alias(id_col),
            F.lit("").alias("__text_unused"),
            F.col("n_bpe_tokens").alias("bpe_tokens"),
            F.lit("all").alias("stream"),
        ),
        id_col=id_col,
        text_col="__text_unused",
        group_col="stream",
        capacity=seq_len,
        tokens_col="bpe_tokens",
    )
    sharded = packed.withColumn(
        "shard", (hash_bucket_expr([id_col], seed="export-v1") % n_shards)
    )
    sharded.write.mode("overwrite").partitionBy("shard").parquet(dest)
    out = sharded.sparkSession.read.parquet(dest)
    return (
        out.groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("bin_id").alias("n_bins"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
        )
        .orderBy("shard")
    )


def ingest_web_corpus(
    raw: DataFrame,
    id_col: str = "doc_id",
    html_col: str = "html",
    min_tokens: int = 10,
) -> DataFrame:
    """The web-crawl front half that feeds :func:`curate_documents` —
    WET-style extraction composed from the round-5 operators, one lazy
    plan end to end:

        HTML→text, line-preserving (functions.html.html_to_text_lines —
          block tags become newlines, zero-shuffle regexp chain)
        → line-quality keep gate (operators.lines — C4 composite flag)
        → within-document duplicate-line removal (first occurrence wins)
        → document-level curation (quality filter + lang-id + exact dedup)

    Returns curate_documents' schema over the extracted-and-line-cleaned
    text. Catalyst sees the whole chain, so the line-quality gate kills
    boilerplate documents BEFORE the dedup shuffles; the only wide
    operations are the three keyed aggregates the stage operators
    document (doc-keyed line stats, (doc, line) first-occurrence, and the
    final fingerprint window)."""
    from g_data_pipeline_spark.functions.html import html_to_text_lines
    from g_data_pipeline_spark.operators.lines import (
        dedup_lines_exploded,
        line_quality_report,
    )

    extracted = raw.select(
        F.col(id_col), html_to_text_lines(F.col(html_col)).alias("__text")
    )
    lines = F.split(F.col("__text"), "\n")
    keep = line_quality_report(extracted, lines, id_col=id_col).filter(
        F.col("keep") == 1
    )
    gated = extracted.join(keep.select(id_col), id_col, "left_semi")
    # Rebuild each document from its first-occurrence lines in original
    # order (same rule remove_duplicate_lines fingerprints).
    clean = (
        dedup_lines_exploded(gated, lines, id_col=id_col)
        .groupBy(id_col)
        .agg(
            F.concat_ws(
                "\n",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "line"))),
                    lambda s: s["line"],
                ),
            ).alias("text")
        )
    )
    return curate_documents(clean, id_col, "text", min_tokens=min_tokens)


def export_jsonl_shards(
    df: DataFrame,
    dest: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_shards: int = 16,
    meta_cols: list[str] | None = None,
    compression: str | None = "gzip",
) -> DataFrame:
    """Training-data DELIVERY export: shard-partitioned JSONL (the format
    most LLM training loaders consume), deterministic and resumable.

    - Shard = md5-bucket of the document id (operators/sampling recipe):
      layout- and engine-invariant, so a re-export of the same corpus
      lands every doc in the same shard — downstream caches stay valid.
    - ``repartition(n_shards, shard)`` routes each shard's rows to one
      task, so each ``shard=N`` directory holds ONE jsonl(.gz) part —
      the file count a loader expects. Shard count is the parallelism
      knob; at 100 TB raise n_shards, not file-per-shard.
    - JSON escaping/encoding is Spark's writer (UTF-8, \\n-terminated) —
      no driver-side serialization of corpus bytes.

    Returns the per-shard manifest (shard, n_docs, n_chars) computed from
    the SAME lazy frame the writer consumed (one extra small aggregate —
    at scale, read it back from the landed files instead if the export
    job and manifest must be transactionally consistent).
    """
    from g_data_pipeline_spark.operators.sampling import hash_bucket_expr

    cols = [id_col, text_col] + list(meta_cols or [])
    sharded = df.select(*cols).withColumn(
        "shard", (hash_bucket_expr([id_col], seed="jsonl") % n_shards)
    )
    writer = (
        sharded.repartition(n_shards, "shard")
        .write.mode("overwrite")
        .partitionBy("shard")
    )
    if compression:
        writer = writer.option("compression", compression)
    writer.json(dest)
    return (
        sharded.groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.length(text_col)).alias("n_chars"),
        )
        .orderBy("shard")
    )


def private_release(
    df,
    quasi_cols: list[str],
    k: int,
    agg_keys: list[str],
    value_col: str,
    epsilon: float,
    clamp: tuple[float, float],
    seed: int = 0,
):
    """Privacy-gated aggregate release: suppress quasi-identifier classes
    smaller than ``k`` (so no released aggregate is computed over a
    re-identifiable population), then publish per-``agg_keys`` counts and
    clamped sums under seeded Laplace noise — the standard
    "k-anonymize the cohort, DP the statistics" belt-and-braces release.

    Returns ``(released_df, audit_row)`` where the audit row is the
    k-anonymity report of the SUPPRESSED table (its k_min is >= k by
    construction — asserted in tests, so a regression in suppression
    can't silently leak small cohorts into the release).

    One QI-keyed exchange for suppression, one agg_keys exchange for the
    release; the audit reuses the suppression aggregate's shape.
    """
    from g_data_pipeline_spark.operators import privacy

    safe = privacy.suppress_rare_classes(df, quasi_cols, k)
    audit = privacy.k_anonymity_report(safe, quasi_cols, thresholds=(k,))
    counts = privacy.dp_grouped_counts(safe, agg_keys, epsilon, seed=seed)
    sums = privacy.dp_grouped_sum(
        safe, agg_keys, value_col, epsilon, clamp, seed=seed
    )
    released = counts.join(sums, agg_keys)
    return released, audit
