"""Benchmark decontamination + intra-document repetition signals.

Beyond-reference capability — two standard pre-training curation
passes:

* **Decontamination**: a training document is "contaminated" when it
  shares n-gram shingles with an evaluation benchmark; contaminated
  docs must be found (and dropped) before training. The probe set is
  benchmark-sized (thousands of docs, millions of shingles at most) —
  corpus-sized it is not, so the topology is: explode the CORPUS side
  into shingle rows once, equi-join against the (distinct) probe
  shingles — Catalyst broadcasts probe shingles when they fit, SMJs on
  the shingle key when they do not — and count hits per document. The
  corpus is scanned once; nothing is quadratic; the join relation is
  corpus-shingles × matching-probes only.

* **Repetition stats**: the fraction of repeated n-gram shingles
  inside each document (RefinedWeb/Gopher-style quality rule: highly
  repetitive docs are boilerplate or generation loops). A map-only
  projection — size and distinct-size of the shingle array — with no
  shuffle at all.

* **Gopher quality stats**: the remaining repetition/format rules of
  Gopher (Rae et al. 2021, Table A1) / RefinedWeb — duplicate-line
  fraction, duplicate-line CHARACTER fraction, top word-n-gram
  character fractions (n = 2, 3, 4), and the ellipsis-line /
  bullet-line format ratios. All array/aggregate expressions over the
  line and token arrays of each document: zero exchanges, no Python,
  whole-stage codegen end to end (per-doc cost is O(distinct × n)
  array scans — bounded by document length, independent of corpus
  size, which is what lets the pass run as a pure map over 100 TB).

Shingle definition is shared with the dedup family
(``operators/dedup.py::shingle_array``: space-joined token n-grams,
whole text when shorter than n).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from m3d_engine_spark.functions.text import tokens
from m3d_engine_spark.operators.dedup import shingle_array


def contamination_check(
    docs: DataFrame,
    probes: DataFrame,
    id_col: str,
    text_col: str,
    probe_text_col: str | None = None,
    n: int = 3,
) -> DataFrame:
    """(id_col, n_hits) for every document sharing ≥ 1 n-gram shingle
    with any probe document. ``probes`` is the benchmark set (small by
    construction). n_hits = number of DISTINCT probe shingles the doc
    contains."""
    probe_text_col = probe_text_col or text_col
    probe_shingles = (
        probes.select(
            # outer: shingle_array never null/empty (inferred-filter dodge)
            F.explode_outer(shingle_array(F.col(probe_text_col), n)).alias("sh")
        )
        .distinct()
    )
    doc_shingles = docs.select(
        F.col(id_col),
        F.explode_outer(
            F.array_distinct(shingle_array(F.col(text_col), n))
        ).alias("sh"),
    )
    return (
        doc_shingles.join(probe_shingles, on="sh")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).cast("long").alias("n_hits"))
    )


def repetition_stats(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
) -> DataFrame:
    """(id_col, n_shingles, n_distinct, dup_ratio) per document, where
    dup_ratio = 1 − distinct/total shingles (0 when the doc has ≤ 1
    shingle). Pure projection — stays inside whole-stage codegen."""
    sh = shingle_array(F.col(text_col), n)
    total = F.size(sh)
    distinct = F.size(F.array_distinct(sh))
    return docs.select(
        F.col(id_col),
        total.cast("int").alias("n_shingles"),
        distinct.cast("int").alias("n_distinct"),
        F.when(
            total > 1,
            F.round(F.lit(1.0) - distinct.cast("double") / total, 4),
        )
        .otherwise(F.lit(0.0))
        .alias("dup_ratio"),
    )


def _top_ngram_chars(gram_expr: str):
    """Character coverage (count × length) of the max-count k-gram, as
    ONE O(distinct × n) pass: per distinct gram build struct(count,
    count × length), take the struct max (field-lexicographic — count
    first, characters as the tiebreak).

    Deterministic tiebreak: among the most frequent k-grams, the one
    covering the most characters wins (the *fraction* is the quantity
    of interest, so ties resolve on it directly — engine-portable,
    unlike "first seen"). Faithful to the published formula, including
    its quirk: OVERLAPPING occurrences multi-count their shared
    characters, so the fraction can exceed 1.0 on degenerate loops —
    harmless for the > ~0.2 drop-thresholds the rule is used with.

    The gram array is BOUND ONCE as a lambda variable
    (``transform(array(g_expr), g -> ...)``): a plain column reference
    inside the per-element lambda would be inlined by Catalyst and
    re-evaluated per element — and a max-count column referenced there
    turns the pass O(d² · n) (measured: minutes instead of seconds at
    sf0.01).
    """
    return F.expr(
        f"coalesce(element_at(transform(array({gram_expr}), g -> "
        "array_max(transform("
        "  transform(array_distinct(g), "
        "    x -> struct(size(filter(g, y -> y = x)) AS c, length(x) AS ln)), "
        "  s -> struct(s.c AS c, CAST(s.c AS BIGINT) * s.ln AS chars))"
        ")), 1).chars, 0L)"
    )


def gopher_quality_stats(
    docs: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """Per-document Gopher/RefinedWeb quality signals:

    (id, n_lines, dup_line_frac, dup_line_char_frac,
     top2_char_frac, top3_char_frac, top4_char_frac,
     ellipsis_line_frac, bullet_line_frac)

    * lines = trimmed, non-empty segments of ``text_col`` split on
      newlines; ``dup_line_frac`` = 1 − distinct/total lines;
      ``dup_line_char_frac`` = characters inside occurrences beyond
      each line's first, over total line characters.
    * ``top{k}_char_frac`` = characters covered by the most frequent
      word k-gram (count × k-gram length) over ``length(text)``.
    * ``ellipsis_line_frac`` / ``bullet_line_frac`` = share of lines
      ending in "..."/"…" resp. starting with "-", "*" or "•".

    Pure projection (zero exchanges, pinned in tests/test_plans.py);
    all fractions rounded to 4dp, 0.0 on empty denominators.
    """
    d = docs.select(F.col(id_col), F.col(text_col).alias("_txt"))
    d = d.withColumn(
        "_lines",
        # \r?\n, not chr(10): a CRLF crawl otherwise keeps '\r' on
        # every line — blank lines survive as '\r' (inflating n_lines
        # and diluting every per-line fraction) and
        # endswith(line, '...') never matches '...\r', so the ellipsis
        # rule silently never fires
        F.expr(
            "filter(transform(split(_txt, '\\\\r?\\\\n'), x -> trim(x)), "
            "x -> x != '')"
        ),
    ).withColumn("_t", tokens(F.col("_txt")))
    def gram_expr(k: int) -> str:
        return (
            f"CASE WHEN size(_t) >= {k} THEN "
            f"transform(sequence(0, size(_t) - {k}), "
            f"i -> concat_ws(' ', slice(_t, i + 1, {k}))) "
            "ELSE CAST(array() AS ARRAY<STRING>) END"
        )

    d = (
        d.withColumn("_nl", F.size("_lines"))
        .withColumn(
            "_tc", F.expr("aggregate(_lines, 0L, (a, x) -> a + length(x))")
        )
        .withColumn(
            "_dupc",
            # same lambda-binding trick as _top_ngram_chars: bind the
            # line array once instead of re-deriving it per element
            F.expr(
                "element_at(transform(array(_lines), l -> "
                "aggregate(array_distinct(l), 0L, (a, x) -> "
                "a + (size(filter(l, y -> y = x)) - 1) * length(x))), 1)"
            ),
        )
    )
    for k in (2, 3, 4):
        d = d.withColumn(f"_top{k}", _top_ngram_chars(gram_expr(k)))

    def frac(num, den):
        return (
            F.when(den > 0, F.round(num.cast("double") / den, 4))
            .otherwise(F.lit(0.0))
        )

    line_share = lambda cond: frac(  # noqa: E731
        F.expr(f"size(filter(_lines, x -> {cond}))"), F.col("_nl")
    )
    return d.select(
        F.col(id_col),
        F.col("_nl").cast("int").alias("n_lines"),
        F.when(
            F.col("_nl") > 0,
            F.round(
                F.lit(1.0)
                - F.size(F.array_distinct("_lines")).cast("double") / F.col("_nl"),
                4,
            ),
        ).otherwise(F.lit(0.0)).alias("dup_line_frac"),
        frac(F.col("_dupc"), F.col("_tc")).alias("dup_line_char_frac"),
        *[
            frac(F.col(f"_top{k}"), F.length("_txt")).alias(f"top{k}_char_frac")
            for k in (2, 3, 4)
        ],
        line_share("endswith(x, '...') OR endswith(x, '…')").alias(
            "ellipsis_line_frac"
        ),
        line_share(
            "startswith(x, '-') OR startswith(x, '*') OR startswith(x, '•')"
        ).alias("bullet_line_frac"),
    )
