"""Deterministic sampling for training-data curation.

Beyond-reference capability. Curation pipelines constantly cut
fixed-size per-stratum subsets ("25 docs per language for eval",
"balance the mixture by source") and need the SAME subset on every
run and every engine — so sampling here is hash-ranked, not
RNG-driven: rank rows inside each stratum by (md5(id), id) and keep
the first n. md5 of the id is a uniform, engine-portable stand-in for
a random draw; the id tiebreak makes the order total.

Scale shape: the rank is a row_number window, which Spark 3.5+/4.x
executes with WindowGroupLimit — each task keeps only its local top-n
per stratum BEFORE the exchange, so the shuffle carries at most
n × (tasks) rows per stratum, never the stratum's full population.
That is the property that lets "take 1M docs per language" run against
100 TB without materializing a language's whole partition.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from m3d_engine_spark.functions.text import md5_uint32, with_tokens


def stratified_sample(
    df: DataFrame,
    strata_cols: Sequence[str],
    n: int,
    id_col: str,
) -> DataFrame:
    """First ``n`` rows of each stratum in deterministic md5-of-id
    order. Output = input columns + ``rk`` (1-based rank within the
    stratum). ``id_col`` must be unique per row or ranks are still
    total but duplicates can both survive."""
    w = Window.partitionBy(*strata_cols).orderBy(
        F.md5(F.col(id_col).cast("string")), F.col(id_col)
    )
    return (
        df.withColumn("rk", F.row_number().over(w).cast("int"))
        .filter(F.col("rk") <= n)
    )


def split_boundaries(weights: Sequence[float]) -> list[str]:
    """Cumulative-weight cut points as 8-hex-digit md5-prefix strings
    (floor(cum_fraction · 2³²), lowercase hex) — one per non-final
    split. Exposed so an external oracle can reproduce the exact cuts."""
    if any(w <= 0 for w in weights):
        raise ValueError(f"split weights must all be > 0, got {list(weights)}")
    total = float(sum(weights))
    bounds = []
    acc = 0.0
    for wgt in list(weights)[:-1]:
        acc += wgt / total
        # Clamp: float rounding can push a non-final cumulative fraction
        # to 1.0, whose 2^32 bound would print as NINE hex digits and
        # break the 8-char lexicographic compare in hash_split.
        bounds.append(format(min(int(acc * (1 << 32)), 0xFFFFFFFF), "08x"))
    return bounds


def hash_split(
    df: DataFrame,
    id_col: str,
    weights: Sequence[float],
    split_col: str = "split",
) -> DataFrame:
    """Deterministic train/val/test assignment: compare the first 8 hex
    digits of md5(id) against the cumulative-weight cut points, AS
    STRINGS — equal-length lowercase hex compares lexicographically ==
    numerically, so there is no float anywhere and the assignment is
    bit-identical across engines (the property ``randomSplit`` does NOT
    give you across engines or partitionings). Pure projection — no
    shuffle, no RNG state. Output = input + ``split_col`` (int index
    into ``weights``)."""
    h = F.substring(F.md5(F.col(id_col).cast("string")), 1, 8)
    expr = None
    for i, bound in enumerate(split_boundaries(weights)):
        cond = h < F.lit(bound)
        expr = F.when(cond, F.lit(i)) if expr is None else expr.when(cond, F.lit(i))
    expr = (
        expr.otherwise(F.lit(len(list(weights)) - 1))
        if expr is not None
        else F.lit(0)
    )
    return df.withColumn(split_col, expr.cast("int"))


def pack_sequences(
    df: DataFrame,
    group_cols: Sequence[str],
    id_col: str,
    token_count_col,
    budget: int,
    bin_col: str = "bin",
):
    """Deterministic token-budget sharding (the scalable form of
    training-data "sequence packing"): within each group, documents in
    md5-of-id order are assigned to consecutive bins of ~``budget``
    tokens — bin = floor(tokens_before_this_doc / budget).

    This is the window-expressible relaxation of greedy packing: a
    document may straddle a bin boundary, so bins can exceed budget by
    at most one document (true close-on-overflow packing is a
    sequential recurrence — per-group state — that a window cannot
    express; run THAT per shard after this op has bounded shard size).
    One window per group: groups pack in parallel, nothing global.

    ``token_count_col`` is a Column (e.g. ``token_count(F.col("text"))``
    or a precomputed column). Output = input + n_tokens + ``bin_col``.
    """
    from pyspark.sql import Window

    # If df already carries n_tokens (e.g. chunk_documents or a prior
    # packing pass feeding back in — the documented precomputed-column
    # usage), withColumn REPLACES it: a blind select("*", alias) would
    # duplicate the name and every downstream reference would throw
    # AMBIGUOUS_REFERENCE.
    if "n_tokens" in df.columns:
        base = df.withColumn("n_tokens", token_count_col.cast("long"))
    else:
        base = df.select(
            "*", token_count_col.cast("long").alias("n_tokens")
        )
    w = (
        Window.partitionBy(*group_cols)
        .orderBy(F.md5(F.col(id_col).cast("string")), F.col(id_col))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum("n_tokens").over(w)
    return base.withColumn(
        bin_col,
        F.floor((cum - F.col("n_tokens")) / F.lit(int(budget))).cast("int"),
    )


def chunk_documents(
    df: DataFrame,
    id_col: str,
    text_col: str,
    chunk_tokens: int = 128,
    stride: int | None = None,
) -> DataFrame:
    """Split each document into fixed-token-window chunks with optional
    overlap (``stride`` < ``chunk_tokens`` → sliding windows) — the
    standard context-window prep between "cleaned doc" and "training
    sequence". Returns (id, chunk_id, n_tokens, chunk) where chunk_id
    numbers windows from 0 in document order and the final window may
    be short.

    Pure JVM fan-out: tokens → ``sequence`` of window starts →
    ``transform``/``slice``/``array_join`` → ``posexplode``. ZERO
    exchanges — the operator is a projection, so it composes with a
    downstream partitioned write at any scale; empty documents emit no
    chunks (posexplode of an empty array), not nulls.
    """
    step = chunk_tokens if stride is None else stride
    if step <= 0 or chunk_tokens <= 0:
        raise ValueError("chunk_tokens and stride must be positive")

    def windows(t: Column) -> Column:
        # With stride < chunk_tokens, a start past size - chunk_tokens + 1
        # yields a window that is a pure SUFFIX of its predecessor (the
        # predecessor already reached the document end) — emitting it
        # duplicates training data. Keep start 1 plus every start whose
        # PREVIOUS window did not reach the end: s - step + chunk - 1 <
        # size. With stride == chunk_tokens the filter keeps everything.
        starts = F.when(
            F.size(t) > 0,
            F.filter(
                F.sequence(F.lit(1), F.size(t), F.lit(step)),
                lambda st: (st == 1)
                | (st - step + chunk_tokens - 1 < F.size(t)),
            ),
        ).otherwise(F.array().cast("array<int>"))
        return F.transform(
            starts, lambda s: F.array_join(F.slice(t, s, chunk_tokens), " ")
        )

    chunks = with_tokens(F.col(text_col), windows)
    return df.select(
        F.col(id_col),
        F.posexplode(chunks).alias("chunk_id", "chunk"),
    ).select(
        F.col(id_col),
        F.col("chunk_id"),
        F.size(F.split(F.col("chunk"), " ")).alias("n_tokens"),
        F.col("chunk"),
    )


def weighted_sample(
    df: DataFrame,
    strata_cols: Sequence[str],
    n: int,
    id_col: str,
    weight_col: str,
) -> DataFrame:
    """Deterministic WEIGHTED priority sample: the first ``n`` rows of
    each stratum by priority = h/w, where h is the md5-of-id integer
    (first 8 hex digits, uniform on [0, 2³²)) and w the row's weight —
    the sampling dial curation uses for "prefer longer/higher-quality
    documents, but keep the draw reproducible".

    Law: a row survives a priority threshold t iff h < t·w, so
    selection probability is ∝ w exactly while t·w ≤ 2³² — i.e. in
    the small-fraction regime (n ≪ stratum size) this matches the
    exponential-race A-ES sampler to first order. At large fractions
    the uniform race is flatter than the exponential one (top-1 of a
    {w, 3w} pair goes to the heavy row with p = 5/6, vs 3/4 for
    exponential keys — pinned by test). We take that documented bias
    in exchange for EXACTNESS: h is an exact integer and IEEE division
    is correctly rounded, so the sample is bit-identical across
    engines and reruns — keys built from ln/pow (true A-ES) are
    implementation-defined in their last ulp and can flip a boundary
    row between engines.

    Rows with NULL or non-positive weight are excluded (a weight of 0
    means "never sample"; negative weights have no sampling meaning).

    Scale: same WindowGroupLimit shape as ``stratified_sample`` —
    each task keeps its local top-n per stratum BEFORE the exchange,
    so the shuffle carries n·tasks rows per stratum, never the
    stratum. Output = surviving input rows + ``priority`` (6dp) +
    ``rk`` (1-based rank within the stratum).
    """
    h = md5_uint32(F.col(id_col).cast("string"))
    base = df.filter(
        F.col(weight_col).isNotNull() & (F.col(weight_col) > 0)
    ).withColumn(
        "priority", h.cast("double") / F.col(weight_col).cast("double")
    )
    w = Window.partitionBy(*strata_cols).orderBy(
        F.col("priority").asc(), F.col(id_col).asc()
    )
    return (
        base.withColumn("rk", F.row_number().over(w).cast("int"))
        .filter(F.col("rk") <= int(n))
        .withColumn("priority", F.round(F.col("priority"), 6))
    )


def negative_sampling_table(
    docs: DataFrame,
    text_col: str,
    table_size: int = 1 << 16,
    min_count: int = 1,
) -> DataFrame:
    """word2vec negative-sampling table: each vocabulary word gets
    ``slots`` ∝ count^0.75 of a ``table_size``-slot table — the
    smoothed-unigram proposal distribution negative sampling draws
    from (the 3/4 power famously up-weights the tail).

    Exactness where it matters: ``c^0.75`` is computed as
    ``sqrt(sqrt(c³))`` — IEEE sqrt is CORRECTLY ROUNDED, unlike libm
    ``pow``, so the weight is bit-identical in any engine — then
    snapped to a 10⁶ lattice long; the total is an exact long sum
    (order-independent) and slots are one exact integer
    multiply-divide: ``slots = (table_size · w) div Σw``. Words whose
    share rounds below one slot get 0 (standard; raise ``table_size``
    for a longer tail). Σslots ≤ table_size by construction
    (floor division), short by at most |vocab| slots.

    Topology: one vocabulary-sized count aggregate, the lattice totals
    as a broadcast 1-row aggregate, slots as a projection. Returns
    (token, n, slots, prob) with prob = round(w/Σw, 8), ordered
    nowhere (sort at consumption).
    """
    from m3d_engine_spark.functions.text import tokens

    table_size = int(table_size)
    counts = (
        docs.select(F.explode(tokens(F.col(text_col))).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= int(min_count))
    )
    w = F.expr(
        "CAST(round(sqrt(sqrt(CAST(n AS DOUBLE) * n * n)) * 1000000) AS BIGINT)"
    )
    weighted = counts.withColumn("_w", w)
    total = F.broadcast(weighted.agg(F.sum("_w").alias("_tw")))
    return (
        weighted.crossJoin(total)
        .select(
            "token",
            "n",
            # DECIMAL(38,0) multiply: table_size · w overflows a long
            # once per-word counts pass ~10¹² (w on the 10⁶ lattice) —
            # the hits() headroom discipline
            F.expr(
                f"CAST(CAST({table_size} AS DECIMAL(38,0)) * _w div _tw "
                "AS BIGINT)"
            ).alias("slots"),
            F.round(F.col("_w") / F.col("_tw"), 8).alias("prob"),
        )
    )


def length_bucketed_batches(
    df: DataFrame,
    id_col: str,
    len_col: str,
    boundaries: Sequence[int],
    batch_size: int,
    num_shards: int = 1,
) -> DataFrame:
    """Static-shape batch assembly: assign each document to a length
    bucket (padded shape), shard it deterministically, and number
    fixed-size batches within each (bucket, shard).

    The accelerator-side reason this exists: training kernels compile
    per tensor shape, so batches must hold same-cap sequences —
    batching by arrival order pads everything to the longest outlier
    (often 10-50% wasted FLOPs), while bucketed batching bounds waste
    at the bucket granularity. ``boundaries`` (ascending caps, e.g.
    [32, 64, 128, 512]) define the shapes; documents longer than the
    last cap are truncated to it (the max-sequence-length rule), so
    ``len_eff = least(len, caps[-1])`` and the bucket is the first cap
    ≥ len_eff. Within (bucket, shard) documents take the md5 epoch-
    shuffle order (``epoch_shuffle`` discipline: engine- and
    partitioning-independent), and ``batch_id = seq div batch_size``.

    Returns one row per document: ``bucket`` (0-based), ``cap`` (the
    padded length), ``shard``, ``batch_id``, ``pos`` (0-based slot),
    ``waste`` (cap − len_eff, the padding tokens this document costs).

    Scale: bucket/cap/shard/waste are pure projections; the only
    exchange is the (bucket, shard) window for the batch numbering —
    and batches never cross shards, so parallelism is num_shards per
    bucket, not 1. At 100 TB choose num_shards ≥ cluster parallelism;
    md5 sharding is uniform by construction, so no skew.
    """
    caps = [int(b) for b in boundaries]
    if not caps or caps != sorted(caps) or len(set(caps)) != len(caps):
        raise ValueError("boundaries must be ascending and distinct")
    if batch_size <= 0 or num_shards <= 0:
        raise ValueError("batch_size and num_shards must be positive")
    ln = F.col(len_col).cast("long")
    len_eff = F.least(ln, F.lit(caps[-1]))
    # bucket = count of caps strictly below len_eff (first cap >= len)
    bucket = sum(
        (len_eff > F.lit(c)).cast("int") for c in caps[:-1]
    ) + F.lit(0) if len(caps) > 1 else F.lit(0)
    cap_arr = F.array(*[F.lit(c) for c in caps])
    h = F.md5(F.col(id_col).cast("string"))
    key = md5_uint32(F.col(id_col).cast("string"))
    out = (
        df.select(
            F.col(id_col),
            len_eff.alias("len_eff"),
            bucket.cast("int").alias("bucket"),
            h.alias("_h"),
        )
        .withColumn("cap", F.element_at(cap_arr, F.col("bucket") + 1))
        .withColumn("shard", F.pmod(key, F.lit(int(num_shards))).cast("int"))
    )
    w = Window.partitionBy("bucket", "shard").orderBy(F.col("_h"), F.col(id_col))
    return (
        out.withColumn("_seq", (F.row_number().over(w) - 1).cast("long"))
        .withColumn("batch_id", F.expr(f"_seq div {int(batch_size)}"))
        .withColumn("pos", (F.col("_seq") % F.lit(int(batch_size))).cast("int"))
        .withColumn("waste", (F.col("cap") - F.col("len_eff")).cast("long"))
        .select(
            id_col, "len_eff", "bucket", "cap", "shard", "batch_id",
            "pos", "waste",
        )
    )
