"""Vector (embedding) column expressions.

Embeddings ride as ``array<float>`` columns. Dot products / norms are
computed with higher-order functions (``zip_with`` + ``aggregate``) in
double precision — JVM-side, no Python UDF, no Arrow round-trip. For
very wide vectors a pandas_udf batch kernel can be swapped in, but at
64-1024 dims the expression form stays inside codegen and avoids
serialization entirely.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    """Σ aᵢ·bᵢ in double precision, left-to-right summation order (so
    results are bit-stable and reproducible across runs/engines)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    """L2 norm — NULL (via nullif) for the all-zero vector, so every
    downstream cosine ``dot/(n1*n2)`` yields NULL instead of an ANSI
    DIVIDE_BY_ZERO crash (or, ANSI off, a NaN that sorts FIRST in
    descending similarity order and poisons every top-k). NULL cosines
    sort last under ``desc`` — a zero-norm embedding degrades to
    "similar to nothing", never to "rank-1 neighbor of everything"."""
    return F.nullif(F.sqrt(dot(a, a)), F.lit(0.0))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def seeded_hyperplanes(dim: int, n: int, seed: int = 42) -> list[list[float]]:
    """Deterministic pseudo-random unit-free hyperplanes (Gaussian via
    Box-Muller over a 64-bit LCG — no numpy dependency in the hot path,
    bit-identical across machines). Same (dim, n, seed) → same planes,
    so bucketing is reproducible run-over-run and engine-portable."""
    import math

    state = seed & 0xFFFFFFFFFFFFFFFF or 1

    def lcg() -> float:  # uniform in (0, 1)
        nonlocal state
        state = (state * 6364136223846793005 + 1442695040888963407) & 0xFFFFFFFFFFFFFFFF
        return ((state >> 11) + 1) / float(1 << 53)

    planes = []
    for _ in range(n):
        row = []
        while len(row) < dim:
            u1, u2 = lcg(), lcg()
            r = math.sqrt(-2.0 * math.log(u1))
            row.append(r * math.cos(2.0 * math.pi * u2))
            if len(row) < dim:
                row.append(r * math.sin(2.0 * math.pi * u2))
        planes.append(row)
    return planes


def sign_lsh_bucket(a: Column, n_bits: int = 4) -> Column:
    """Axis-aligned sign-LSH bucket id from the first ``n_bits`` vector
    components: bit i = (a[i] > 0). 2^n_bits buckets.

    This is the cheapest member of the random-hyperplane LSH family
    (hyperplanes = coordinate axes). For production ANN swap in seeded
    random hyperplanes; the bucketing/join topology is identical: bucket
    is a shuffle key, so candidate generation is a co-partitioned
    self-join instead of a full cross join — the O(n²)→O(n²/2^bits)
    reduction that makes ANN feasible at 10⁹ vectors.
    """
    bucket = F.lit(0)
    for i in range(n_bits):
        bucket = bucket + F.when(F.element_at(a, i + 1) > 0, F.lit(1 << i)).otherwise(F.lit(0))
    return bucket


def stride_sample(df, id_col: str, stride: int):
    """The deterministic sampled-quantizer source shared by
    ``similarity.ivf_topk`` and ``dedup.semantic_assignments``: every
    ``stride``-th row by id. Falls back to the single minimum-id row
    when the stride filter matches NOTHING (ids 1..N with N < stride,
    or ids never divisible) — an empty centroid relation would
    otherwise make the downstream crossJoin produce zero assignments
    and the whole operator silently return an empty result.

    The ``isEmpty`` probe is a deliberate eager driver job (one
    ``head(1)`` on the filtered relation, which short-circuits at the
    first surviving row). The lazy alternative — union the min-id row
    behind an anti-join guard — adds a full TakeOrdered scan of ``df``
    to EVERY build, including the overwhelmingly common non-empty case;
    and every caller (ivf_topk, semantic_assignments) immediately runs
    an eager multi-job quantizer-training phase on the result anyway,
    so the probe adds no extra pass over what the build already pays."""
    from pyspark.sql import functions as F

    sampled = df.filter((F.col(id_col) % stride) == 0)
    if sampled.isEmpty():
        return df.orderBy(F.col(id_col).asc()).limit(1)
    return sampled
