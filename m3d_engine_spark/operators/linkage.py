"""Record linkage / entity resolution: fuzzy-match records across two
tables by weighted multi-field string similarity.

Beyond-reference capability — the master-data half of a curation
stack: matching a dirty feed (crawled authors, OCR'd vendors, user
registrations) against the clean dimension it should join to, when no
shared key exists.

    block on coarse keys (region, zip prefix, soundex, …)
    → candidate pairs = equi-join on the block key        [1 keyed shuffle/side]
    → per-field similarity: 1 − lev(a,b)/max(|a|,|b|,1)   [pair-local projection]
    → weighted score, threshold, best-match ranking       [WindowGroupLimit]

Blocking is the scale contract: the quadratic term is bounded by the
largest block (pairs = Σ_b |L_b|·|R_b|), and the join is a plain keyed
equi-join — never an all-pairs cross. Everything after the join is a
pair-local projection (Levenshtein is a JVM built-in — exact integers),
so the candidate relation streams through whole-stage codegen without
a second exchange until the per-record best-match window
(WindowGroupLimit keeps k rows per left id before its exchange).

Determinism: Levenshtein distances and lengths are exact integers; the
weighted sum is one fixed-order double expression rounded to 4dp;
ranking by (score DESC, right id ASC) is total.
"""

from __future__ import annotations

from typing import Mapping, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from m3d_engine_spark.plans.skew import salted_self_join, salted_two_sided_join


def field_similarity(left: Column, right: Column) -> Column:
    """Normalized edit similarity in [0, 1]:
    1 − levenshtein/max(len, 1); two NULLs score 0 (no evidence), one
    NULL scores 0 (mismatch evidence is absent, not negative)."""
    sim = F.lit(1.0) - F.levenshtein(left, right) / F.greatest(
        F.length(left), F.length(right), F.lit(1)
    )
    return F.when(left.isNull() | right.isNull(), F.lit(0.0)).otherwise(sim)


def record_linkage(
    left: DataFrame,
    right: DataFrame,
    left_id: str,
    right_id: str,
    block_cols: Sequence[str],
    fields: Mapping[str, float],
    threshold: float = 0.8,
    keep: int = 1,
    salt_size: int | None | str = None,
    salt_parts: int = 8,
) -> DataFrame:
    """Match ``left`` records to ``right`` records sharing a block.

    ``fields`` maps column names (present in BOTH inputs) to weights;
    score = Σ w_f·sim_f / Σ w. Returns (left_id, right_id, score,
    rank) for pairs with score ≥ ``threshold``, at most ``keep`` best
    matches per left record (rank 1 = best; ties on score break to the
    smaller right id).

    ``salt_size``/``salt_parts`` is the hot-block straggler dial: a
    block whose larger side exceeds ``salt_size`` rows is routed
    through a salted join — its BIGGER side gets a deterministic part
    ``pmod(xxhash64(id), salt_parts)``, its smaller side replicates
    once per part, and the equi-key gains the part — so one hot
    block's |L_b|·|R_b| comparison stream spreads over ``salt_parts``
    tasks instead of one. Which side salts is decided per block from
    a broadcast block-count relation (≤ N/salt_size rows by
    construction). Output identical to the unsalted join: per block
    exactly one side is salted and the other replicated, so every
    (l, r) pair meets exactly once, in the salted row's part.
    ``salt_size="auto"`` derives the threshold in-plan from the
    distribution of per-block larger-side counts."""
    block_cols = list(block_cols)
    if not fields:
        raise ValueError("record_linkage needs at least one scored field")
    if not block_cols:
        # join(on=[]) degenerates into the all-pairs cross product the
        # blocking contract exists to prevent — refuse loudly
        raise ValueError(
            "record_linkage needs at least one blocking column; "
            "an unblocked link is |L|x|R| comparisons"
        )
    if left_id == right_id:
        # two identically named output columns make every downstream
        # by-name select/join ambiguous
        raise ValueError(
            f"left_id and right_id are both {left_id!r}; rename one "
            f"side (the output carries both id columns by name)"
        )
    lsel = left.select(
        F.col(left_id).alias("_lid"),
        *[F.col(c).alias(f"_bl_{c}") for c in block_cols],
        *[F.col(c).alias(f"_l_{c}") for c in fields],
    )
    rsel = right.select(
        F.col(right_id).alias("_rid"),
        *[F.col(c).alias(f"_bl_{c}") for c in block_cols],
        *[F.col(c).alias(f"_r_{c}") for c in fields],
    )
    join_keys = [f"_bl_{c}" for c in block_cols]
    # Hot blocks (larger side > salt_size) and which side salts are
    # decided per block from a broadcast count relation.
    pairs = salted_two_sided_join(
        lsel, rsel, join_keys, "_lid", "_rid",
        lambda l, r, *extra: l.join(r, on=[*join_keys, *extra]),
        salt_size, salt_parts,
    )
    total_w = float(sum(fields.values()))
    score = None
    for c, w in fields.items():
        term = F.lit(float(w)) * field_similarity(
            F.col(f"_l_{c}"), F.col(f"_r_{c}")
        )
        score = term if score is None else score + term
    score = F.round(score / F.lit(total_w), 4)
    scored = pairs.select(
        F.col("_lid"), F.col("_rid"), score.alias("score")
    ).filter(F.col("score") >= float(threshold))
    w_rank = Window.partitionBy("_lid").orderBy(
        F.col("score").desc(), F.col("_rid").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w_rank).cast("int"))
        .filter(F.col("rank") <= int(keep))
        .select(
            F.col("_lid").alias(left_id),
            F.col("_rid").alias(right_id),
            "score",
            "rank",
        )
    )


def fastss_pairs(
    df: DataFrame,
    id_col: str,
    str_col: str,
    salt_size: int | None | str = None,
    salt_parts: int = 8,
) -> DataFrame:
    """All pairs of rows whose strings are within edit distance 1
    (insert/delete/substitute one character), via deletion-
    neighborhood blocking (the FastSS trick): every string generates
    its |s|+1 one-deletion variants (itself included), two strings
    within distance 1 ALWAYS share a variant, so candidates come from
    ONE equi-join on the variant key and the exact ``levenshtein``
    runs only on collisions — never the all-pairs matrix that makes
    naive fuzzy joins quadratic.

    The complement of ``record_linkage``'s coarse blocking: this one
    is EXACT for distance ≤ 1 (typo pairs, near-identical titles/SKUs)
    with recall 1.0 by construction, at ~|s| join keys per row.

    Returns ``(id_a, id_b, str_a, str_b, dist)`` with ``id_a < id_b``,
    deduplicated. Scale: the variant relation is Σ(len+1) rows keyed
    by an md5 of the variant (fixed-width key, text never joins); the
    self-join is keyed; the Levenshtein verify touches only
    collisions.

    ``salt_size``/``salt_parts``: k identical strings share ALL their
    variant keys, so each key is a k-row bucket whose k²/2 pairs land
    in one task. Variant keys hotter than ``salt_size`` route through
    the exactly-once salted self-join (left bucketed by
    ``pmod(xxhash64(id), salt_parts)``, right replicated per part) —
    identical output, hot key spread over ``salt_parts`` tasks.
    """
    base = df.select(
        F.col(id_col).alias("_id"), F.col(str_col).alias("_s")
    ).filter(F.col("_s").isNotNull())
    variants = base.select(
        "_id",
        "_s",
        F.explode(
            F.array_distinct(
                F.concat(
                    F.array(F.col("_s")),
                    F.expr(
                        "transform(sequence(1, length(_s)),"
                        " i -> concat(substring(_s, 1, i - 1),"
                        " substring(_s, i + 1, length(_s))))"
                    ),
                )
            )
        ).alias("_v"),
    ).select("_id", "_s", F.md5(F.col("_v")).alias("_vk"))
    def _cand(va: DataFrame, vb: DataFrame, *extra_keys: str) -> DataFrame:
        a = va.select(
            F.col("_id").alias("id_a"), F.col("_s").alias("str_a"), "_vk",
            *extra_keys,
        )
        b = vb.select(
            F.col("_id").alias("id_b"), F.col("_s").alias("str_b"), "_vk",
            *extra_keys,
        )
        return (
            a.join(b, on=["_vk", *extra_keys])
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b", "str_a", "str_b")
        )

    cands = salted_self_join(
        variants, ["_vk"], "_id", _cand, salt_size, salt_parts
    )
    pairs = (
        cands.distinct()
        .withColumn(
            "dist", F.levenshtein(F.col("str_a"), F.col("str_b")).cast("int")
        )
        .filter(F.col("dist") <= 1)
    )
    return pairs
