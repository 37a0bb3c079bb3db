"""Code-data curation signals — The Stack / StarCoder-style data-prep
filters (Kocetkov et al. '22 §3, Li et al. '23 §3): line-geometry,
symbol/alpha ratios, indentation share, fence detection, and
auto-generated markers, composed into a code-likeness gate. A code
corpus is filtered ON these (drop minified/autogenerated blobs); a
prose corpus uses them to FIND embedded code (route to a code pipeline
or strip).

Pure JVM expressions over one line-split per document — zero shuffles,
zero UDFs, scan-stage work (the urls.py/scorecard.py house pattern).
Integer micro ratios floor via subtract-pmod (exact; both operands
nonnegative). Oracle twin: query_defs/curation8.t_code_signals.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

AUTOGEN_MARKERS = ("auto-generated", "do not edit", "generated by")

#: Alphabet for the translate-based alpha count (equivalent to the
#: '[^A-Za-z]' strip, without the regex engine).
_ALPHA52 = (
    "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz"
)


def _micro(num: Column, den: Column) -> Column:
    n = num * F.lit(1_000_000)
    d = F.greatest(den, F.lit(1))
    return ((n - F.pmod(n, d)) / d).cast("long")


def code_signals(
    text: Column,
    long_line: int = 120,
    max_line_cap: int = 1000,
    min_alpha_micro: int = 250_000,
    autogen_markers: tuple[str, ...] = AUTOGEN_MARKERS,
) -> dict[str, Column]:
    """Per-document code-curation signals as named Columns:

    - ``n_lines``, ``max_line_len``, ``avg_line_len_micro``: line
      geometry (a minified blob is one enormous line; The Stack drops
      files with extreme line lengths);
    - ``long_line_share_micro``: share of lines over ``long_line``;
    - ``alpha_ratio_micro``: alphabetic chars / total (low = data blob);
    - ``symbol_ratio_micro``: ``{}[]();=<>`` density — the cheap
      code-vs-prose separator;
    - ``indent_share_micro``: lines opening with 4 spaces or a tab;
    - ``fence_count``: markdown code fences (embedded code in prose);
    - ``autogen``: any auto-generated marker, case-insensitive
      (markers are matched as literal substrings);
    - ``is_code_like``: symbol-dense OR indented OR fenced;
    - ``keep_for_code``: the Stack-style gate — code-like, not
      autogenerated, sane line geometry, alphabetic enough.
    """
    lines = F.split(text, "\n")
    line_lens = F.transform(lines, F.length)
    n_lines = F.size(lines)
    max_len = F.coalesce(F.array_max(line_lens), F.lit(0))
    total_len = F.length(text)
    # Char-class counts via translate (one char-map pass, no regex
    # engine, no stripped-copy allocation) — r10 A/B: ~15-20% off the
    # whole scan stage vs the regexp_replace strips, outputs proven
    # bit-identical on the sf0.1 corpus (OPTIMIZATION_r10.md).
    n_alpha = total_len - F.length(F.translate(text, _ALPHA52, ""))
    n_symbol = total_len - F.length(F.translate(text, "{}[]();=<>", ""))
    n_long = F.size(F.filter(line_lens, lambda n: n > F.lit(int(long_line))))
    n_indent = F.size(
        F.filter(
            lines, lambda ln: ln.startswith("    ") | ln.startswith("\t")
        )
    )
    fence_count = F.size(F.split(text, "```", -1)) - F.lit(1)
    low = F.lower(text)
    autogen = F.lit(False)
    for marker in autogen_markers:
        autogen = autogen | low.contains(marker)
    alpha_micro = _micro(n_alpha, total_len)
    symbol_micro = _micro(n_symbol, total_len)
    indent_micro = _micro(n_indent, n_lines)
    is_code_like = (
        (symbol_micro > F.lit(30_000))
        | (indent_micro > F.lit(200_000))
        | (fence_count > 0)
    )
    keep_for_code = (
        is_code_like
        & ~autogen
        & (max_len <= F.lit(int(max_line_cap)))
        & (alpha_micro >= F.lit(int(min_alpha_micro)))
    )
    return {
        "n_lines": n_lines.cast("long"),
        "max_line_len": max_len.cast("long"),
        "avg_line_len_micro": _micro(
            F.coalesce(
                F.aggregate(line_lens, F.lit(0).cast("long"), lambda a, x: a + x),
                F.lit(0).cast("long"),
            ),
            n_lines,
        ),
        "long_line_share_micro": _micro(n_long, n_lines),
        "alpha_ratio_micro": alpha_micro,
        "symbol_ratio_micro": symbol_micro,
        "indent_share_micro": indent_micro,
        "fence_count": fence_count.cast("long"),
        "autogen": autogen,
        "is_code_like": is_code_like,
        "keep_for_code": keep_for_code,
    }


def code_filter_report(df: DataFrame, text_col: str = "text", **kw) -> DataFrame:
    """One row per input row with every signal column (audit form; filter
    with ``.filter("keep_for_code")`` for the pipeline form). Scan-stage
    only."""
    sig = code_signals(F.col(text_col), **kw)
    return df.select("*", *[c.alias(name) for name, c in sig.items()])
