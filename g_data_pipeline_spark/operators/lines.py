"""Line-level corpus curation (FineWeb / C4-style line filters).

The reference pipeline ingests clean CSV text (upload_csv in the reference
service — see SURVEY.md §2.1) and has no corpus-curation surface at all;
these operators add the standard *line-granular* quality pass that every
web-scale LLM corpus pipeline runs before document-level filtering
(C4: Raffel et al. 2020 §2.2 — terminal-punctuation line filter, short-line
drop, dedup of repeated lines; FineWeb: Penedo et al. 2024 — line-wise
boilerplate heuristics).

Design (Spark-first, 100 TB shape):

- Everything is built from JVM expressions (`split`, `transform`,
  `posexplode`, `concat_ws`) — no Python in the hot path, so line
  explosion runs inside WholeStageCodegen at parquet-scan speed.
- Per-document work only: the explode raises row count but every
  aggregation is keyed on ``doc_id`` (or ``doc_id, line``), so the whole
  pass is ONE hash-aggregate shuffle per operator; there is no corpus-wide
  key that could skew. Map-side combine collapses the per-line rows before
  the exchange.
- The synthetic corpus stores one physical line per document, so the
  operators take the line view as a parameter: ``line_view`` re-chunks
  text into fixed-width token lines (deterministic, mirrored in the DuckDB
  oracles), while real newline-delimited corpora pass
  ``F.split(text, '\\n')`` directly.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window

#: Tokens per synthetic line when re-chunking a corpus that has no
#: physical newlines (the testdata case). Real corpora split on '\n'.
TOKENS_PER_LINE = 10

#: A line is "short" below this many tokens (C4 drops lines < 5 words).
SHORT_LINE_TOKENS = 5


def chunked_lines(text: Column, tokens_per_line: int = TOKENS_PER_LINE) -> Column:
    """array<string> of fixed-width token lines from a single-line text.

    Deterministic re-chunking: whitespace-split, then group every
    ``tokens_per_line`` consecutive tokens into one space-joined line.
    Pure expressions (split / sequence / transform / slice) — codegen'd,
    no shuffle, no UDF. Mirrored in SQL as
    ``list_transform(range(nlines), i -> array_to_string(toks[i*k+1 : i*k+k], ' '))``.
    The token array is let-bound (functions/expr.let) so the regex split
    runs once per row, not once per line.
    """
    from g_data_pipeline_spark.functions.expr import let

    k = F.lit(tokens_per_line)

    def body(toks: Column) -> Column:
        n_lines = F.floor(
            (F.size(toks) + k - F.lit(1)) / k.cast("double")
        ).cast("int")
        return F.transform(
            F.sequence(F.lit(0), n_lines - F.lit(1)),
            lambda i: F.concat_ws(
                " ", F.slice(toks, i * k + F.lit(1), tokens_per_line)
            ),
        )

    return let(F.split(F.trim(text), r"\s+"), body)


def line_quality_report(
    docs: DataFrame,
    lines: Column,
    *,
    short_tokens: int = SHORT_LINE_TOKENS,
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document line-quality stats + composite keep flag.

    Counts per document: total lines, short lines (< ``short_tokens``
    words), duplicate lines (total - distinct), lines ending in terminal
    punctuation. ``keep`` is the C4-style composite: at most 30% duplicate
    lines AND at most 50% short lines (integer cross-multiplication — no
    float ratio ever touches the gated path).

    Shape: explode → Spark's two-phase distinct aggregate (COUNT(DISTINCT
    line) plans as a partial aggregate on ``(id, line)`` then a final on
    ``id``) — exactly two map-side-combined exchanges, no join, no window;
    the second exchange carries one row per distinct (doc, line).
    """
    per_line = docs.select(
        F.col(id_col), F.explode(lines).alias("line")
    )
    n = F.count(F.lit(1))
    return (
        per_line.groupBy(id_col)
        .agg(
            n.cast("long").alias("n_lines"),
            F.count_if(
                F.size(F.split(F.col("line"), " ")) < F.lit(short_tokens)
            )
            .cast("long")
            .alias("n_short_lines"),
            (n - F.count_distinct(F.col("line")))
            .cast("long")
            .alias("n_dup_lines"),
            F.count_if(F.col("line").rlike('[.!?"]$'))
            .cast("long")
            .alias("n_terminal_punct_lines"),
        )
        .select(
            id_col,
            "n_lines",
            "n_short_lines",
            "n_dup_lines",
            "n_terminal_punct_lines",
            F.when(
                (F.col("n_dup_lines") * F.lit(10) <= F.col("n_lines") * F.lit(3))
                & (
                    F.col("n_short_lines") * F.lit(2) <= F.col("n_lines")
                ),
                F.lit(1),
            )
            .otherwise(F.lit(0))
            .cast("long")
            .alias("keep"),
        )
    )


def remove_duplicate_lines(
    docs: DataFrame, lines: Column, *, id_col: str = "doc_id"
) -> DataFrame:
    """Within-document duplicate-line removal, keeping the FIRST occurrence.

    Returns one row per document: lines before/after and an md5
    fingerprint of the deduplicated text (lines rejoined with '\\n' in
    original order) — the fingerprint is what downstream exact-dedup keys
    on, so it is the value worth gating.

    Shape: posexplode → groupBy (doc, line) min(position) → groupBy doc
    with an order-restoring ``array_sort(collect_list(struct(pos, line)))``
    rebuild. Two keyed aggregates, both map-side combined; the second
    reuses the first's partitioning prefix so AQE coalesces the exchange.
    Never a window over raw lines (a window would sort every line twice).
    """
    per_line = docs.select(
        F.col(id_col), F.posexplode(lines).alias("pos", "line")
    )
    firsts = per_line.groupBy(id_col, "line").agg(
        F.min("pos").alias("pos"), F.count(F.lit(1)).alias("n_copies")
    )
    return (
        firsts.groupBy(id_col)
        .agg(
            F.sum("n_copies").cast("long").alias("n_lines"),
            F.count(F.lit(1)).cast("long").alias("n_kept"),
            F.md5(
                F.concat_ws(
                    "\n",
                    F.transform(
                        F.array_sort(
                            F.collect_list(F.struct("pos", "line"))
                        ),
                        lambda s: s["line"],
                    ),
                )
            ).alias("dedup_md5"),
        )
    )


def dedup_lines_exploded(
    docs: DataFrame, lines: Column, *, id_col: str = "doc_id"
) -> DataFrame:
    """(doc, pos, line) rows with duplicates-after-first removed — the
    row-level form for pipelines that keep processing per-line. Same
    min-position rule as :func:`remove_duplicate_lines`, expressed as a
    WindowGroupLimit-prunable rank so Spark drops losers before the final
    exchange."""
    per_line = docs.select(
        F.col(id_col), F.posexplode(lines).alias("pos", "line")
    )
    w = Window.partitionBy(id_col, "line").orderBy("pos")
    return (
        per_line.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


def c4_gopher_line_rules(
    docs: DataFrame, lines: Column, *, id_col: str = "doc_id",
    text_col: str = "text", keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Per-document C4/Gopher LINE-rule signals (round 9): the line-
    granular keep rules C4 applies (Raffel '20 §2.2 — drop lines
    mentioning javascript; page flags for 'lorem ipsum' and curly
    braces) plus the Gopher format page-gates (Rae '21 table A1 — drop
    pages where >90% of lines start with a bullet or >30% end with an
    ellipsis). Returns one row per doc:

        (id, [keep_cols...], n_lines, n_bullet_start, n_ellipsis_end,
         n_javascript, has_lorem_ipsum, has_brace,
         bullet_heavy, ellipsis_heavy)

    with the heavy flags integer-cross-multiplied (no float ratio on a
    gated path). ALL line work is array-local (size(filter(...)) over a
    STAGED line array — one evaluation of the chunker per row, the
    round-6 HOF-capture lesson) — zero explode, zero shuffle."""
    staged = docs.select(
        F.col(id_col), *[F.col(c) for c in keep_cols],
        F.lower(F.col(text_col)).alias("__lt"),
        lines.alias("__lines"),
    )
    lns = F.col("__lines")
    n_lines = F.size(lns)
    n_bullet = F.size(F.filter(lns, lambda l: l.rlike(r"^[-*] ")))
    n_ellipsis = F.size(F.filter(lns, lambda l: l.rlike(r"\.\.\.\z")))
    n_js = F.size(
        F.filter(lns, lambda l: F.lower(l).rlike("javascript"))
    )
    return staged.select(
        id_col,
        *keep_cols,
        n_lines.cast("long").alias("n_lines"),
        n_bullet.cast("long").alias("n_bullet_start"),
        n_ellipsis.cast("long").alias("n_ellipsis_end"),
        n_js.cast("long").alias("n_javascript"),
        F.col("__lt").rlike("lorem ipsum").cast("int").alias(
            "has_lorem_ipsum"
        ),
        F.col("__lt").rlike("[{]").cast("int").alias("has_brace"),
        (n_bullet * F.lit(10) > n_lines * F.lit(9)).cast("int").alias(
            "bullet_heavy"
        ),
        (n_ellipsis * F.lit(10) > n_lines * F.lit(3)).cast("int").alias(
            "ellipsis_heavy"
        ),
    )


def c4_clean(
    docs: DataFrame, lines: Column, *, id_col: str = "doc_id",
    text_col: str = "text", keep_cols: tuple[str, ...] = (),
    min_words: int = 5, min_sentences: int = 3,
    blocklist_words: tuple[str, ...] | None = None,
) -> DataFrame:
    """The COMPOSED C4 cleaning transform (Raffel '20 §2.2) — the
    repo carried every report half (t_line_rules, t_sentence_stats,
    t_blocklist_gate); this is the transform that actually produces
    the cleaned corpus:

    - LINE keeps: >= ``min_words`` words AND ends in terminal
      punctuation AND does not mention javascript;
    - PAGE drops (after line filtering): 'lorem ipsum', a curly brace,
      any blocklisted term, or fewer than ``min_sentences`` sentences
      retained (terminal-mark count over the CLEANED text — the
      lookbehind-free proxy t_sentence_stats pins).

    Returns one row per doc: ``(id, [keep_cols...], n_lines,
    n_kept_lines, cleaned, page_keep, drop_reason)`` — ``cleaned`` is
    the kept lines newline-joined (computed even for dropped pages so
    the attrition ledger can audit), ``drop_reason`` the FIRST failed
    page rule ('' when kept; fixed rule order, engine-mirrorable).
    Array-local size/filter over a STAGED line array — zero explode,
    zero shuffle; the whole transform runs at parquet-scan speed."""
    from g_data_pipeline_spark.functions.blocklist import (
        DEFAULT_BLOCKLIST,
        blocklist_regex,
    )

    words = blocklist_words if blocklist_words is not None else DEFAULT_BLOCKLIST
    staged = docs.select(
        F.col(id_col), *[F.col(c) for c in keep_cols],
        F.lower(F.col(text_col)).alias("__lt"),
        lines.alias("__lines"),
    )
    lns = F.col("__lines")

    def line_keep(l: Column) -> Column:
        # r10 per-task forms (outputs proven bit-identical on the sf0.1
        # corpus, OPTIMIZATION_r10.md, ~15% off the scan stage):
        # word count = whitespace-run count + 1 (true for any string,
        # split keeps leading/trailing empties) without materializing
        # the token array; the terminal-punctuation regex '[.!?"\'] *\z'
        # = last char after stripping trailing 0x20 spaces (rtrim trims
        # exactly 0x20, SPARK-17299) is in the set; the javascript test
        # case-folds inside the regex instead of allocating a lowered
        # copy per line.
        return (
            (F.regexp_count(l, F.lit(r"\s+")) + F.lit(1) >= min_words)
            & F.substring(F.rtrim(l), -1, 1).isin(".", "!", "?", '"', "'")
            & ~l.rlike("(?i)javascript")
        )

    kept = F.filter(lns, line_keep)
    staged2 = staged.select(
        id_col, *keep_cols, "__lt",
        F.size(lns).cast("long").alias("n_lines"),
        F.size(kept).cast("long").alias("n_kept_lines"),
        F.array_join(kept, "\n").alias("cleaned"),
    )
    n_sent = F.regexp_count(F.col("cleaned"), F.lit(r"[.!?]"))
    reason = (
        F.when(F.col("__lt").rlike("lorem ipsum"), F.lit("lorem_ipsum"))
        .when(F.col("__lt").rlike("[{]"), F.lit("brace"))
        .when(
            F.col("__lt").rlike(blocklist_regex(words)), F.lit("blocklist")
        )
        .when(n_sent < min_sentences, F.lit("too_few_sentences"))
        .otherwise(F.lit(""))
    )
    return staged2.select(
        id_col, *keep_cols, "n_lines", "n_kept_lines", "cleaned",
        (reason == "").alias("page_keep"),
        reason.alias("drop_reason"),
    )
