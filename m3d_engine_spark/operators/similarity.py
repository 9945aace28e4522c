"""Similarity search over embedding columns.

Beyond-reference capability. Two tiers:

* **brute_force_topk** — exact top-k by cosine. The query set is
  broadcast (it is small by construction), so the "cross join" is a
  BroadcastNestedLoopJoin: each executor streams its local shard of the
  corpus once against the in-memory queries — zero shuffle of the
  corpus, which is the only thing that matters at 10⁹ vectors. Ranking
  is a window partitioned by query id.
* **bucketed_ann** — sign-LSH bucketed approximate search: corpus and
  queries are bucketed by the signs of leading components; the join is a
  co-partitioned equi-join on the bucket id, cutting candidates by
  ~2^bits at some recall cost. Swap the bucketer for seeded random
  hyperplanes / IVF centroids without touching the join topology.

Determinism: ranking orders by (round(cosine,4) DESC, id ASC) — total
order, stable across engines and float summation quirks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from m3d_engine_spark.functions.vectors import (
    dot,
    norm,
    seeded_hyperplanes,
    sign_lsh_bucket,
)


def _ranked_topk(pairs: DataFrame, k: int) -> DataFrame:
    """Top-``k`` of the scored pair relation, which by family
    convention carries (query_id, neighbor_id, cosine). NULL cosines
    (zero-norm vectors) sort LAST under desc — never rank-1."""
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cosine")
    )


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 5,
) -> DataFrame:
    """Exact cosine top-k of each query against the corpus (self-matches
    excluded). Returns (query_id, neighbor_id, rank, cosine)."""
    q = F.broadcast(
        queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("qv"),
            norm(F.col(vec_col)).alias("qn"),
        )
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
        norm(F.col(vec_col)).alias("cn"),
    )
    pairs = c.crossJoin(q).filter(F.col("neighbor_id") != F.col("query_id")).select(
        "query_id",
        "neighbor_id",
        F.round(dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn")), 4).alias("cosine"),
    )
    return _ranked_topk(pairs, k)


def bucketed_ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 5,
    lsh_bits: int = 4,
) -> DataFrame:
    """Approximate top-k: candidates restricted to the query's sign-LSH
    bucket. Equi-join on bucket ⇒ shuffle/broadcast chosen by Catalyst;
    at scale, bucket the corpus table on `bucket` at write time and the
    probe becomes a bucket-pruned scan."""
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        norm(F.col(vec_col)).alias("qn"),
        sign_lsh_bucket(F.col(vec_col), lsh_bits).alias("bucket"),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
        norm(F.col(vec_col)).alias("cn"),
        sign_lsh_bucket(F.col(vec_col), lsh_bits).alias("bucket"),
    )
    pairs = (
        c.join(F.broadcast(q), on="bucket")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn")), 4).alias("cosine"),
        )
    )
    return _ranked_topk(pairs, k)


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 5,
    centroid_stride: int = 125,
    n_probe: int = 4,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """IVF-flat approximate top-k: a coarse quantizer partitions the
    corpus into inverted lists; each query probes only its ``n_probe``
    nearest centroids' lists.

    The default coarse quantizer is SAMPLED, not trained: every
    ``centroid_stride``-th corpus vector (by id) is a centroid — fully
    deterministic, so the whole operator is oracle-checkable, and the
    centroid count grows with the corpus (√N is the classical target;
    pick the stride accordingly). Pass ``centroids`` — any
    (cent_id, centv) relation, e.g. ``train_kmeans`` output renamed —
    to swap in a TRAINED quantizer; only the centroid relation
    changes, the assignment/probe topology is identical (pinned by
    tests/test_dedup_similarity.py).

    Topology: assignment is a broadcast join corpus × centroids →
    argmax cosine. The corpus side takes the argmax with ``max_by`` over
    a (round(cos,4), −centroid) ordering struct — a hash aggregation
    whose PARTIAL phase collapses each vector's C centroid rows inside
    the scan partition they were generated in, so the exchange carries
    one row per corpus vector, never the N×C cross product (a
    row_number window here would shuffle all N×C rows — N^1.5 at √N
    centroids — just to keep one). The query side keeps the
    row_number window (rank ≤ ``n_probe``): it is queries × centroids,
    tiny by construction, and needs the top-n not the top-1.
    Candidates come from the equi-join on the centroid id.
    At 10⁹ vectors: centroids stay broadcastable (√N ≈ 30k rows), the
    corpus is scanned once for assignment, and the probe join is
    shuffle-partitioned by inverted list — bucket the corpus table by
    ``cluster`` at write time and the probe becomes a pruned scan.
    """
    if centroids is not None:
        cents = F.broadcast(
            centroids.select(
                F.col("cent_id"),
                F.col("centv"),
                norm(F.col("centv")).alias("centn"),
            )
        )
    else:
        from m3d_engine_spark.functions.vectors import stride_sample

        cents = F.broadcast(
            stride_sample(corpus, id_col, centroid_stride).select(
                F.col(id_col).alias("cent_id"),
                F.col(vec_col).alias("centv"),
                norm(F.col(vec_col)).alias("centn"),
            )
        )

    def assigned(df: DataFrame, idc: str, keep: int) -> DataFrame:
        sim = F.round(
            dot(F.col(vec_col), F.col("centv"))
            / (norm(F.col(vec_col)) * F.col("centn")),
            4,
        )
        scored = (
            df.select(F.col(id_col).alias(idc), F.col(vec_col))
            .crossJoin(cents)
            .withColumn("_sim", sim)
        )
        if keep == 1:
            # Argmax as min_by over a totally-ordered struct: the
            # NEGATED rounded cosine ascends (so highest cosine wins),
            # ties to the LOWEST cent_id — negating the always-numeric
            # score instead of the id keeps string centroid ids legal
            # (the docstring invites any (cent_id, centv) relation).
            # NULL cosine (zero-norm vector or centroid) coalesces to
            # +2.0 — worse than any real negated cosine — matching the
            # window path's NULLS-LAST descending order. Map-side
            # combinable like the max_by form.
            return scored.groupBy(idc).agg(
                F.min_by(
                    "cent_id",
                    F.struct(
                        F.coalesce(-F.col("_sim"), F.lit(2.0)).alias("s"),
                        F.col("cent_id").alias("c"),
                    ),
                ).alias("cluster")
            )
        w = Window.partitionBy(idc).orderBy(
            F.col("_sim").desc(), F.col("cent_id").asc()
        )
        return (
            scored.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= keep)
            .select(F.col(idc), F.col("cent_id").alias("cluster"))
        )

    cand = (
        assigned(corpus, "neighbor_id", 1)
        .join(assigned(queries, "query_id", n_probe), on="cluster")
        .select("query_id", "neighbor_id")
        .distinct()
        .filter(F.col("neighbor_id") != F.col("query_id"))
    )
    c_vec = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
        norm(F.col(vec_col)).alias("cn"),
    )
    q_vec = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        norm(F.col(vec_col)).alias("qn"),
    )
    scored = (
        cand.join(c_vec, on="neighbor_id")
        .join(F.broadcast(q_vec), on="query_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn")), 4
            ).alias("cosine"),
        )
    )
    return _ranked_topk(scored, k)


def _probe_dim(df: DataFrame, vec_col: str) -> int:
    """Vector width from one NON-NULL row (array columns carry no
    length in the schema). 0 when the column is empty/all-NULL —
    callers fall back to their exact tier. A driver round-trip and a
    silent uniform-width assumption: prefer passing ``dim``."""
    first = (
        df.select(F.col(vec_col))
        .filter(F.col(vec_col).isNotNull())
        .first()
    )
    return len(first[0]) if first else 0


def _lsh_candidate_pairs(
    side_a: DataFrame,
    side_b: DataFrame,
    id_col: str,
    vec_col: str,
    a_out: str,
    b_out: str,
    bits: int,
    tables: int,
    seed: int,
    dim: int,
    broadcast_b: bool = False,
    salt_size: int | None | str = None,
    salt_parts: int = 8,
) -> DataFrame:
    """The shared OR-construction candidate stage under
    ``seeded_ann_topk`` and ``margin_candidate_pairs``: ``tables``
    independent seeded hyperplane bucketings per vector from ONE
    Arrow-batched matmul, ``posexplode`` to (table, bucket) rows, and
    candidate generation as a SINGLE banded equi-join on that
    composite key, deduped. Returns distinct ``(a_out, b_out)`` id
    pairs — no cartesian/nested-loop node, no persisted relation.

    ``salt_size``/``salt_parts`` is the hot-bucket straggler dial for
    the non-broadcast (two web-scale sides) path — a degenerate
    hyperplane bucket (e.g. many near-zero or duplicated embeddings
    sharing one sign pattern) fans n·m candidate rows into a single
    SMJ task. Routed through ``plans/skew.py::salted_big_side_join``
    with side_a as the big/salted side (the corpus-scale side by the
    callers' convention): side_a's bucket count is a window over its
    own join exchange (the Arrow matmul is never re-evaluated), side_b
    learns hotness from the broadcast hot-key set. ``"auto"`` derives
    the threshold in-plan; output identical either way (pinned).
    Ignored under ``broadcast_b`` — a broadcast join spreads a hot
    bucket across the streamed side's partitions naturally."""
    import numpy as np

    from m3d_engine_spark.functions.ann_kernels import make_bucket_udf

    planes = seeded_hyperplanes(dim, bits * tables, seed)
    plane_matrix = np.array(planes, dtype=np.float64).T  # dim × (tables*bits)
    all_buckets = make_bucket_udf(plane_matrix, tables, bits)

    def exploded(df: DataFrame, idc: str) -> DataFrame:
        # NULL vectors never bucket (and would crash the Arrow matmul
        # kernel's np.array(...) batch construction)
        return df.filter(F.col(vec_col).isNotNull()).select(
            F.col(id_col).alias(idc),
            F.posexplode(all_buckets(F.col(vec_col))).alias("t", "bucket"),
        )

    eb = exploded(side_b, b_out)
    if broadcast_b:
        eb = F.broadcast(eb)
    ea = exploded(side_a, a_out)
    if salt_size is None or broadcast_b:
        return (
            ea.join(eb, on=["t", "bucket"])
            .select(a_out, b_out)
            .distinct()
        )
    from m3d_engine_spark.plans.skew import salted_big_side_join

    keys = ["t", "bucket"]
    return salted_big_side_join(
        eb, ea, keys, a_out,
        lambda b, a, *extra: b.join(a, on=[*keys, *extra]).select(a_out, b_out),
        salt_size, salt_parts,
    ).distinct()


def seeded_ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 5,
    bits: int = 3,
    tables: int = 12,
    seed: int = 42,
    dim: int | None = None,
) -> DataFrame:
    """Multi-table random-hyperplane LSH top-k (the production ANN path;
    ``bucketed_ann_topk``'s axis-aligned bucketer is the cheap variant).

    OR-construction: ``tables`` independent seeded bucketings; a corpus
    vector is a candidate if it collides with the query in ANY table.
    Per-bit collision probability is 1 − θ/π, so recall for neighbors at
    angle θ is 1 − (1 − (1−θ/π)^bits)^tables — tune (bits, tables) per
    corpus; the recall@k pytest pins ≥0.9 on the synthetic embeddings.

    Topology: each vector's ``tables`` buckets come from ONE
    Arrow-batched matmul (the Column-expression form would re-evaluate
    tables·bits dot-product trees row-at-a-time); ``posexplode`` turns
    them into (table, bucket) rows and candidate generation is a SINGLE
    equi-join on that composite key — the OR-construction expressed as
    data instead of ``tables`` plan branches, so nothing needs
    ``persist()`` and no cached relation outlives the query. Candidates
    are deduped BEFORE scoring, so each surviving pair pays the dot
    product exactly once, reading vectors straight from the raw inputs.
    At 10⁹ vectors each table cuts candidates by ~2^bits; the union
    costs tables× that — the standard recall/cost dial.

    ``dim`` (vector width) comes from the caller — array columns do not
    carry a length in the schema. When omitted, it is probed from one
    corpus row (a driver round-trip, and a silent uniform-width
    assumption — prefer passing it).
    """
    if dim is None:
        dim = _probe_dim(corpus, vec_col)
    if dim == 0:
        return brute_force_topk(corpus, queries, id_col, vec_col, k)
    # Table t uses planes [t*bits, (t+1)*bits).
    cands = _lsh_candidate_pairs(
        corpus, queries, id_col, vec_col, "neighbor_id", "query_id",
        bits, tables, seed, dim, broadcast_b=True,
    ).filter(F.col("neighbor_id") != F.col("query_id"))
    c_vec = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
        norm(F.col(vec_col)).alias("cn"),
    )
    q_vec = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        norm(F.col(vec_col)).alias("qn"),
    )
    scored = (
        cands.join(c_vec, on="neighbor_id")
        .join(F.broadcast(q_vec), on="query_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn")), 4).alias("cosine"),
        )
    )
    return _ranked_topk(scored, k)


def projected_rerank_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    k: int = 5,
    reduce_dim: int = 32,
    coarse: int = 50,
    seed: int = 7,
) -> DataFrame:
    """Two-stage retrieval: seeded random-projection REDUCTION (the
    Johnson-Lindenstrauss coarse space) → top-``coarse`` candidates per
    query by reduced-space cosine → EXACT cosine re-rank of only those
    candidates → top-``k``. The classic coarse-then-exact pattern
    (IVF/PQ re-rank shape) expressed as one lazy plan.

    Why it scales: the full-dimension vectors are touched only (a) once
    in the projection kernel (Arrow matmul, one pass over the corpus)
    and (b) for |queries|·coarse candidate rows in the re-rank join —
    the corpus-wide scoring scan runs entirely in the reduce_dim-sized
    integer space (reduce_dim/dim of the FLOPs and bytes; at dim=1024,
    r=16 that is a 64× cut). Candidate generation broadcasts the
    reduced queries exactly like brute_force_topk, so the corpus still
    never shuffles; the re-rank join is keyed on the corpus id.

    Determinism: reduced coordinates are integers (quantized at 1e4 in
    the kernel), so coarse scores are identical across engines; both
    stages tie-break on neighbor id; exact cosine rounds at 4dp.
    """
    import numpy as np

    from m3d_engine_spark.functions.ann_kernels import make_project_udf

    planes = seeded_hyperplanes(dim, reduce_dim, seed)
    project = make_project_udf(np.array(planes, dtype=np.float64).T)

    # norms are computed ONCE per side (projection output), never per
    # pair — the pair expression is a single reduce_dim-length fold.
    # zero-norm reduced vectors (degenerate inputs) are excluded rather
    # than scored: NaN coarse scores sort FIRST under Spark's
    # descending order and would displace real candidates.
    red_c = (
        corpus.filter(F.col(vec_col).isNotNull())  # NULLs crash the kernel
        .select(
            F.col(id_col).alias("neighbor_id"),
            project(F.col(vec_col)).alias("rv"),
        )
        .withColumn("rn", norm(F.col("rv")))
        .filter(F.col("rn") > 0)
    )
    red_q = F.broadcast(
        queries.filter(F.col(vec_col).isNotNull())
        .select(
            F.col(id_col).alias("query_id"),
            project(F.col(vec_col)).alias("qv"),
        )
        .withColumn("qn", norm(F.col("qv")))
        .filter(F.col("qn") > 0)
    )
    coarse_pairs = (
        red_c.crossJoin(red_q)
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            (dot(F.col("qv"), F.col("rv")) / (F.col("qn") * F.col("rn"))).alias(
                "_cs"
            ),
        )
    )
    wc = Window.partitionBy("query_id").orderBy(
        F.col("_cs").desc(), F.col("neighbor_id").asc()
    )
    cands = (
        coarse_pairs.withColumn("_crk", F.row_number().over(wc))
        .filter(F.col("_crk") <= coarse)
        .select("query_id", "neighbor_id")
    )
    full_c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
        norm(F.col(vec_col)).alias("cn"),
    )
    full_q = F.broadcast(
        queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("fqv"),
            norm(F.col(vec_col)).alias("qn"),
        )
    )
    pairs = (
        cands.join(full_c, on="neighbor_id")
        .join(full_q, on="query_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                dot(F.col("fqv"), F.col("cv")) / (F.col("qn") * F.col("cn")), 4
            ).alias("cosine"),
        )
    )
    return _ranked_topk(pairs, k)


def hard_negative_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    label_col: str,
    k: int = 3,
) -> DataFrame:
    """Hard-negative mining for contrastive/retrieval training: each
    query's top-``k`` most-similar corpus vectors with a DIFFERENT
    label — the near-misses a bi-encoder learns the most from.

    Same zero-corpus-shuffle topology as ``brute_force_topk`` (queries
    broadcast, ranking via WindowGroupLimit); the label inequality is
    a pair-local filter, so at 10⁹ vectors this still streams the
    corpus shard once per executor. For the approximate tier, feed the
    candidate pairs of any ANN operator through the same filter."""
    q = F.broadcast(
        queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("qv"),
            norm(F.col(vec_col)).alias("qn"),
            F.col(label_col).alias("qlabel"),
        )
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
        norm(F.col(vec_col)).alias("cn"),
        F.col(label_col).alias("clabel"),
    )
    pairs = (
        c.crossJoin(q)
        .filter(
            (F.col("neighbor_id") != F.col("query_id"))
            & (F.col("clabel") != F.col("qlabel"))
        )
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn")), 4
            ).alias("cosine"),
        )
    )
    return _ranked_topk(pairs, k)


def mmr_diversify(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    shortlist: int = 20,
    k: int = 5,
    lambda_pct: int = 70,
) -> DataFrame:
    """Maximal Marginal Relevance (Carbonell & Goldstein '98) — the
    diversified top-k every retrieval-augmented pipeline wants when
    plain top-k returns five near-copies of the same passage: greedily
    pick the candidate maximizing

        mmr(c) = λ·rel(c) − (1−λ)·max_{s∈Selected} sim(c, s)

    Topology — greedy is inherently sequential in k, so the job is
    structured to make each of the k rounds TRIVIAL instead of trying
    to parallelize the recurrence: the expensive work (relevance scan +
    candidate-pair similarity matrix) happens ONCE up front on
    candidate-sized relations, and each greedy round is one keyed
    join + one aggregate + one candidate-sized window over ≤
    |queries|·shortlist rows. Candidates come from the exact brute
    top-``shortlist`` (broadcast queries, corpus unexchanged); the
    pair matrix is |queries|·shortlist² rows. Every pre-computed
    relation is collapsed by a LAZY localCheckpoint so the k-round
    lineage stays linear (the hits() discipline) and nothing
    re-executes per round.

    Determinism: rel and sim are the 4dp cosine contract; λ enters as
    ``lambda_pct/100`` computed identically in any engine; the mmr
    score rounds to 4dp and ties break to the smaller id. Returns
    (query_id, neighbor_id, pick, rel, mmr) — pick = selection order
    1..k, with mmr = rel for the seed pick.
    """
    shortlist, k, lam = int(shortlist), int(k), int(lambda_pct)
    cand = (
        brute_force_topk(corpus, queries, id_col, vec_col, k=shortlist)
        .select("query_id", F.col("neighbor_id").alias("id"),
                F.col("cosine").alias("rel"))
        .localCheckpoint(eager=False)
    )
    cv = cand.join(
        corpus.select(
            F.col(id_col).alias("id"),
            F.col(vec_col).alias("v"),
            norm(F.col(vec_col)).alias("n"),
        ),
        on="id",
    )
    ps = (
        cv.alias("a")
        .join(
            cv.alias("b"),
            on=[
                F.col("a.query_id") == F.col("b.query_id"),
                F.col("a.id") != F.col("b.id"),
            ],
        )
        .select(
            F.col("a.query_id").alias("query_id"),
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.round(
                dot(F.col("a.v"), F.col("b.v"))
                / (F.col("a.n") * F.col("b.n")),
                4,
            ).alias("sim"),
        )
        .localCheckpoint(eager=False)
    )
    lam_c = F.lit(lam) / F.lit(100.0)
    com_c = F.lit(100 - lam) / F.lit(100.0)
    w0 = Window.partitionBy("query_id").orderBy(
        F.col("rel").desc(), F.col("id").asc()
    )
    selected = (
        cand.withColumn("_rn", F.row_number().over(w0))
        .filter(F.col("_rn") == 1)
        .select(
            "query_id", "id", "rel", F.col("rel").alias("mmr"),
            F.lit(1).cast("int").alias("pick"),
        )
    )
    for t in range(2, k + 1):
        pen = (
            ps.join(
                selected.select(
                    F.col("query_id"), F.col("id").alias("id_b")
                ),
                on=["query_id", "id_b"],
            )
            .groupBy("query_id", F.col("id_a").alias("id"))
            .agg(F.max("sim").alias("_mx"))
        )
        scoredc = (
            cand.join(pen, on=["query_id", "id"])
            .join(
                selected.select("query_id", "id", F.lit(1).alias("_sel")),
                on=["query_id", "id"],
                how="left_anti",
            )
            .select(
                "query_id", "id", "rel",
                F.round(
                    lam_c * F.col("rel") - com_c * F.col("_mx"), 4
                ).alias("mmr"),
            )
        )
        wt = Window.partitionBy("query_id").orderBy(
            F.col("mmr").desc(), F.col("id").asc()
        )
        winner = (
            scoredc.withColumn("_rn", F.row_number().over(wt))
            .filter(F.col("_rn") == 1)
            .select(
                "query_id", "id", "rel", "mmr",
                F.lit(t).cast("int").alias("pick"),
            )
        )
        selected = selected.unionByName(winner).localCheckpoint(eager=False)
    return selected.select(
        "query_id", F.col("id").alias("neighbor_id"), "pick", "rel", "mmr"
    )


def margin_candidate_pairs(
    side_a: DataFrame,
    side_b: DataFrame,
    id_col: str,
    vec_col: str,
    candidates: str = "broadcast",
    bits: int = 3,
    tables: int = 12,
    seed: int = 42,
    dim: int | None = None,
    salt_size: int | None | str = None,
    salt_parts: int = 8,
) -> DataFrame:
    """The pluggable pair tier under ``margin_mine`` (exposed so the
    plan suite can pin each tier's UNCHECKPOINTED shape): returns
    scored candidate pairs ``(a_id, b_id, ci)`` with ``ci`` the cosine
    on the 1e4 integer lattice.

    ``"broadcast"`` — exact A×B, side B broadcast (one web-scale side).
    ``"seeded_lsh"`` — multi-table random-hyperplane candidates (two
    web-scale sides): one Arrow matmul per side, posexplode to
    (table, bucket) rows, ONE banded equi-join, dedup, then hash-join
    the vectors back — no cartesian/nested-loop node in the plan.
    """
    if candidates not in ("broadcast", "seeded_lsh"):
        raise ValueError(f"unknown candidates tier: {candidates!r}")
    a = side_a.select(
        F.col(id_col).alias("a_id"),
        F.col(vec_col).alias("av"),
        norm(F.col(vec_col)).alias("an"),
    )
    b_plain = side_b.select(
        F.col(id_col).alias("b_id"),
        F.col(vec_col).alias("bv"),
        norm(F.col(vec_col)).alias("bn"),
    )
    ci = (
        F.round(
            dot(F.col("av"), F.col("bv")) / (F.col("an") * F.col("bn")) * 10000,
            0,
        )
        .cast("bigint")
        .alias("ci")
    )
    if candidates == "seeded_lsh":
        if dim is None:
            dim = _probe_dim(side_a, vec_col)
        if dim > 0:
            cand = _lsh_candidate_pairs(
                side_a, side_b, id_col, vec_col, "a_id", "b_id",
                bits, tables, seed, dim,
                salt_size=salt_size, salt_parts=salt_parts,
            )
            return (
                cand.join(a, on="a_id")
                .join(b_plain, on="b_id")
                .select("a_id", "b_id", ci)
            )
        # degenerate empty side: fall through to the exact tier
    return a.crossJoin(F.broadcast(b_plain)).select("a_id", "b_id", ci)


def margin_mine(
    side_a: DataFrame,
    side_b: DataFrame,
    id_col: str,
    vec_col: str,
    knn: int = 4,
    ratio: tuple[int, int] = (51, 50),
    candidates: str = "broadcast",
    bits: int = 3,
    tables: int = 12,
    seed: int = 42,
    dim: int | None = None,
    salt_size: int | None | str = None,
    salt_parts: int = 8,
) -> DataFrame:
    """Margin-based parallel-pair mining (the LASER/CCMatrix shape):
    for every vector on side A, its best cosine match on side B kept
    only when the pair "stands out" against the local neighborhood —
    margin(x, y) = cos(x, y) / (½·(avgₖ(x→B) + avgₖ(y→A))) with the
    ratio criterion margin > ratio[0]/ratio[1].

    Determinism discipline: cosines are projected onto a 1e4 integer
    lattice (the 4dp-rounding premise the whole similarity family
    uses), so both k-NN denominators are EXACT integer sums — no
    order-dependent double accumulation — and the margin cut is
    decided as an exact integer comparison. The denominators divide by
    the ACTUAL neighborhood sizes nA, nB (≤ knn): margin =
    2·ci·nA·nB / (skA·nB + skB·nA), so a sparse LSH neighborhood never
    understates the denominator and inflates margins. The integer cut
    is SIGN-AWARE (multiplying an inequality by a negative denominator
    flips it; anti-aligned neighborhoods make skA+skB < 0 legal):
    s > 0 accepts on p·ratio[1] > s·ratio[0], s < 0 on the flipped
    comparison, s = 0 on p > 0 (margin → +∞); doubles appear only in
    the reported columns, and the reported margin is NULL at s = 0.

    The pair tier is selected by ``candidates``:

    * ``"broadcast"`` (default) — exact: every A×B pair scored, side B
      BROADCAST (zero shuffle of the bigger side A; the right topology
      at 10⁹×10⁶, i.e. one web-scale side and one corpus-sized side).
    * ``"seeded_lsh"`` — two web-scale sides: ``seeded_ann_topk``'s
      multi-table random-hyperplane candidate stage (one Arrow matmul
      per side, posexplode to (table, bucket) rows, ONE banded
      equi-join — no cross join anywhere in the plan, pinned in
      tests/test_plans.py). k-NN denominators and best-match are then
      computed over the candidate pairs; with (bits, tables) at
      full-recall settings for the corpus the output equals the exact
      tier bit for bit (pinned), and at production settings the usual
      LSH recall/cost dial applies. ``bits``/``tables``/``seed``/
      ``dim`` mirror seeded_ann_topk and are ignored by the exact
      tier.

    The k-NN stats and best-match windows are keyed exchanges of the
    PAIR relation only, identical in both tiers.

    Returns (a_id, b_id, cosine, margin).
    """
    pairs = margin_candidate_pairs(
        side_a,
        side_b,
        id_col,
        vec_col,
        candidates=candidates,
        bits=bits,
        tables=tables,
        seed=seed,
        dim=dim,
        salt_size=salt_size,
        salt_parts=salt_parts,
    )
    wa = Window.partitionBy("a_id").orderBy(F.col("ci").desc(), F.col("b_id"))
    wb = Window.partitionBy("b_id").orderBy(F.col("ci").desc(), F.col("a_id"))
    # eager checkpoint: the scored candidate relation feeds THREE
    # consumers (k-NN stats per side + best match); without it each
    # consumer re-executes the cosine cross join — the fuzzy_dedup
    # checkpoint discipline, applied to the candidate tier
    ranked = (
        pairs.withColumn("_ra", F.row_number().over(wa))
        .withColumn("_rb", F.row_number().over(wb))
        .localCheckpoint()
    )
    ka = (
        ranked.filter(F.col("_ra") <= knn)
        .groupBy("a_id")
        .agg(F.sum("ci").alias("_ska"), F.count(F.lit(1)).alias("_na"))
    )
    kb = (
        ranked.filter(F.col("_rb") <= knn)
        .groupBy("b_id")
        .agg(F.sum("ci").alias("_skb"), F.count(F.lit(1)).alias("_nb"))
    )
    if candidates == "broadcast":
        # kb is one row per distinct b_id — bounded by the broadcast
        # tier's premise (side B is the corpus-sized side). In the
        # seeded_lsh tier BOTH sides are web-scale: kb must shuffle,
        # never collect to the driver.
        kb = F.broadcast(kb)
    best = ranked.filter(F.col("_ra") == 1)
    num, den = ratio
    # margin = ci / (½·(skA/nA + skB/nB)) = p/s on the exact lattice
    p = F.col("ci") * 2 * F.col("_na") * F.col("_nb")
    sden = F.col("_ska") * F.col("_nb") + F.col("_skb") * F.col("_na")
    accept = (
        F.when(sden > 0, p * den > sden * num)
        .when(sden < 0, p * den < sden * num)
        .otherwise(p > 0)
    )
    return (
        best.join(ka, "a_id")
        .join(kb, "b_id")
        .filter(accept)
        .select(
            "a_id",
            "b_id",
            (F.col("ci").cast("double") / 10000).alias("cosine"),
            F.when(
                sden != 0,
                F.round(p.cast("double") / sden.cast("double"), 6),
            ).alias("margin"),
        )
    )
