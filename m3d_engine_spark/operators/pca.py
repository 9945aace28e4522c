"""Distributed covariance for embedding columns.

Beyond-reference capability. Embedding post-processing (whitening,
dimensionality reduction before clustering or dedup, the "remove the
dominant direction" trick for sentence embeddings) starts with the
d×d covariance matrix of a corpus-sized vector column. The shape of
the computation at 100 TB:

* the covariance needs ``Σ x_i·x_j`` for every dim pair — N·d²/2
  multiply-adds no matter how it is written. Here it is written as two
  chained ``posexplode`` generators (upper triangle per row) feeding
  ONE map-side-combinable aggregate, so the exchange carries at most
  d·(d+1)/2 rows per task — the FLOPs distribute, the shuffle does
  not grow with N. (An Arrow kernel computing per-partition numpy
  Gram partials would trade JVM fan-out CPU for Python dispatch; the
  aggregate topology — tiny keyed exchange — would be identical.)

Determinism: embedding floats cast to double are exact; a float×float
product in double is EXACT (24+24 mantissa bits < 53), and the sums go
through DECIMAL(38,12) — order-independent — so the covariance matrix
is bit-identical across engines and partitionings up to the final
(identically-associated) IEEE division, rounded at 6dp.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _vec_base(df: DataFrame, vec_col: str) -> DataFrame:
    """Non-null vectors cast to double — the corpus both moment
    passes scan."""
    v = F.col(vec_col).cast("array<double>")
    return df.select(v.alias("_v")).filter(F.col("_v").isNotNull())


def _pair_products(base: DataFrame) -> DataFrame:
    """Upper-triangle second moments: one row per dim pair (i <= j)
    with the exact decimal-summed ``Σ x_i·x_j`` (as double). Two
    chained generators, one map-side-combinable aggregate — the
    exchange is ≤ d(d+1)/2 rows per task regardless of N."""
    e1 = base.select("_v", F.posexplode("_v").alias("i", "_xi"))
    e2 = e1.select(
        "i",
        "_xi",
        F.posexplode(
            F.slice(F.col("_v"), F.col("i") + F.lit(1), F.size("_v"))
        ).alias("_p", "_xj"),
    ).select(
        F.col("i"),
        (F.col("i") + F.col("_p")).alias("j"),
        (F.col("_xi") * F.col("_xj")).alias("_xy"),
    )
    return e2.groupBy("i", "j").agg(
        F.sum(F.col("_xy").cast("decimal(38,12)")).cast("double").alias("_sxy")
    )


def _dim_sums(base: DataFrame) -> DataFrame:
    """First moments: d rows of exact decimal-summed ``Σ x_i``."""
    return (
        base.select(F.posexplode("_v").alias("i", "_x"))
        .groupBy("i")
        .agg(F.sum(F.col("_x").cast("decimal(38,12)")).cast("double").alias("_s"))
    )


def embedding_covariance(
    df: DataFrame, vec_col: str, out_dp: int = 6
) -> DataFrame:
    """Upper-triangle covariance matrix of an ``array<float|double>``
    column: one row per dim pair ``(i, j)`` with ``i <= j`` (0-based),
    columns ``(i, j, n, cov)`` where
    ``cov = (Σ x_i·x_j − Σx_i·Σx_j / n) / n`` (population covariance).

    Scale: two generator fan-outs (no join, no second scan) + one
    aggregate keyed on the (i, j) pair — map-side combine collapses
    each task to ≤ d(d+1)/2 partial rows; per-dim sums ride a d-row
    broadcast join; n is a broadcast 1-row aggregate.
    """
    base = _vec_base(df, vec_col)
    stats = base.agg(F.count(F.lit(1)).alias("_n"))
    sxy = _pair_products(base)
    sums = _dim_sums(base)
    si = F.broadcast(sums.select(F.col("i").alias("_di"), F.col("_s").alias("_sxi")))
    sj = F.broadcast(sums.select(F.col("i").alias("_dj"), F.col("_s").alias("_sxj")))
    return (
        sxy.join(si, F.col("i") == F.col("_di"))
        .join(sj, F.col("j") == F.col("_dj"))
        .crossJoin(F.broadcast(stats))
        .select(
            F.col("i").cast("int").alias("i"),
            F.col("j").cast("int").alias("j"),
            F.col("_n").alias("n"),
            (
                F.round(
                    (F.col("_sxy") - F.col("_sxi") * F.col("_sxj") / F.col("_n"))
                    / F.col("_n"),
                    out_dp,
                )
                + F.lit(0.0)  # IEEE: -0.0 + 0.0 = +0.0, so zero is one value
            ).alias("cov"),
        )
    )
