"""Event-sequence transition analytics (first-order Markov census).

Beyond-reference capability (the reference is batch ELT only): the
"what happens after X" census every product/clickstream pipeline runs —
and, in a training-data context, the state-transition audit over
session transcripts (turn-type sequences) that surfaces degenerate
interaction loops before they reach a fine-tuning mix.

Scale shape: sequences order WITHIN a user partition (one hash
exchange + window sort — the sessionize topology), transitions
aggregate map-side on the (from, to) pair key, and per-from totals
come from a second tiny aggregate over the PAIR RELATION (states² ≤
small), never a second pass over events. No driver traffic, no
windows over anything bigger than one user's events.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def transition_matrix(
    events: DataFrame,
    key_cols: Sequence[str],
    order_col: str,
    state_col: str,
    tie_cols: Sequence[str] = (),
) -> DataFrame:
    """First-order transition census over per-key ordered event
    sequences: for every observed (from_state, to_state) pair, the
    transition count and the row-conditional probability
    ``p = n / Σ_to n`` (4dp; exact-integer counts, one IEEE division).

    Ordering is (order_col, *tie_cols) within each key partition —
    pass a unique tiebreaker (event id) so runs are deterministic when
    timestamps collide; ties left unbroken would make `lead` pick an
    engine-dependent successor. The last event of each sequence has no
    successor and contributes nothing.

    Topology: ONE exchange on the key columns feeds the ordered window
    (lead); transitions then partial-aggregate map-side on the
    (from, to) key; the per-from totals reuse the aggregated pair
    relation (states²-sized, tiny) via a window over it — the corpus is
    scanned exactly once. Returns (from_state, to_state, n, p).
    """
    w = Window.partitionBy(*[F.col(c) for c in key_cols]).orderBy(
        F.col(order_col), *[F.col(c) for c in tie_cols]
    )
    pairs = (
        events.select(
            *[F.col(c) for c in key_cols],
            F.col(order_col),
            *[F.col(c) for c in tie_cols],
            F.col(state_col).alias("from_state"),
        )
        .withColumn("to_state", F.lead("from_state").over(w))
        .filter(F.col("to_state").isNotNull())
        .groupBy("from_state", "to_state")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w_tot = Window.partitionBy("from_state")
    return pairs.select(
        "from_state",
        "to_state",
        "n",
        F.round(F.col("n") / F.sum("n").over(w_tot), 4).alias("p"),
    )


def top_paths(
    df: DataFrame,
    key_cols: Sequence[str],
    order_col: str,
    state_col: str,
    tie_cols: Sequence[str] = (),
    k: int = 20,
    max_len: int = 10,
) -> DataFrame:
    """Most common full journeys: each key's ordered state sequence
    (truncated at ``max_len``) becomes a path string, and the census
    returns the top ``k`` paths by frequency — the whole-journey
    complement of ``transition_matrix``'s one-step census (funnels
    show WHERE users go next; paths show the routes that actually
    dominate).

    Order is restored INSIDE the aggregate (array_sort over
    (order, ties, state) structs — the assemble_sequences discipline),
    so the path is correct under any partitioning; truncation bounds
    the path string against unbounded sessions. One exchange on the
    key, one census aggregate on the path, TakeOrderedAndProject for
    the top-k (per-task top-k, no global sort).

    Returns (path, n_keys, path_len).
    """
    order_fields = [F.col(order_col)] + [F.col(c) for c in tie_cols]
    packed = F.array_sort(
        F.collect_list(F.struct(*order_fields, F.col(state_col).alias("_s")))
    )
    seq = F.slice(F.expr("transform(_p, x -> x._s)"), 1, int(max_len))
    per_key = (
        # NULL states are dropped up front: array_join would skip them
        # from the path string while size() counts them, so path and
        # path_len desynchronize and distinct journeys collide
        df.filter(F.col(state_col).isNotNull())
        .groupBy(*key_cols)
        .agg(packed.alias("_p"))
        .select(seq.alias("_seq"))
        .select(
            F.array_join(F.col("_seq"), ">").alias("path"),
            F.size("_seq").cast("int").alias("path_len"),
        )
    )
    return (
        per_key.groupBy("path", "path_len")
        .agg(F.count(F.lit(1)).alias("n_keys"))
        .orderBy(F.col("n_keys").desc(), F.col("path").asc())
        .limit(int(k))
    )


def removal_attribution(
    events: DataFrame,
    key_cols: Sequence[str],
    order_col: str,
    state_col: str,
    conv_state: str,
    tie_cols: Sequence[str] = (),
    k_steps: int = 12,
    scale: int = 10**12,
) -> DataFrame:
    """Markov removal-effect attribution: each channel's credit is how
    much the journey-level conversion probability DROPS when the
    channel is deleted from the first-order chain (transitions into a
    removed channel become lost mass; nothing renormalizes) — the
    data-driven alternative to last-touch.

    Distributed part (the only corpus-sized work): journeys truncate
    at their FIRST conversion (no post-conversion transitions), then
    ONE transition census + ONE start census + the journey count —
    the ``transition_matrix`` topology. The absorption solve runs on
    the collected states²-sized matrix (driver-side METADATA by this
    engine's standard — the kmeans-centroid discipline) as ``k_steps``
    value-iteration rounds in EXACT integers on the ``scale``
    lattice: v'_i = (Σ_j cnt_ij · v_j) // rowsum_i with the
    conversion state pinned at ``scale``. Every number is an integer
    until the reported doubles, so results are bit-identical across
    engines and reruns (floor division == truncation on the
    non-negative lattice).

    Returns one row per non-conversion channel:
    (channel, base_cvr, removed_cvr, removal_effect).
    """
    keys = [F.col(c) for c in key_cols]
    w = Window.partitionBy(*keys).orderBy(
        F.col(order_col), *[F.col(c) for c in tie_cols]
    )
    conv_before = F.coalesce(
        F.sum((F.col("s") == conv_state).cast("int")).over(
            w.rowsBetween(Window.unboundedPreceding, -1)
        ),
        F.lit(0),
    )
    trunc = (
        events.select(
            *keys, F.col(order_col), *[F.col(c) for c in tie_cols],
            F.col(state_col).alias("s"),
        )
        .withColumn("_cb", conv_before)
        .filter(F.col("_cb") == 0)
    )
    seq = (
        trunc.withColumn("_rn", F.row_number().over(w))
        .withColumn("_to", F.lead("s").over(w))
        # two census collects below consume this corpus-sized window
        # lineage; materialize once instead of re-running the sort
        .localCheckpoint(eager=True)
    )
    trans = (
        seq.filter(F.col("_to").isNotNull())
        .groupBy(F.col("s").alias("from_state"), F.col("_to").alias("to_state"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    starts = (
        seq.filter(F.col("_rn") == 1)
        .groupBy(F.col("s").alias("state"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    rows = solve_removal(
        [(r.from_state, r.to_state, int(r.n)) for r in trans],
        [(r.state, int(r.n)) for r in starts],
        conv_state,
        k_steps=k_steps,
        scale=scale,
    )
    spark = events.sparkSession
    return spark.createDataFrame(
        rows,
        "channel string, base_cvr double, removed_cvr double,"
        " removal_effect double",
    )


def solve_removal(
    trans: Sequence[tuple[str, str, int]],
    starts: Sequence[tuple[str, int]],
    conv_state: str,
    k_steps: int = 12,
    scale: int = 10**12,
) -> list[tuple]:
    """The driver-side exact-integer absorption solve of the batch
    operator above: the censuses are states²-sized metadata;
    everything stays on the integer lattice (floor division) until the
    reported doubles, so any two paths that accumulate the SAME
    censuses report bit-identical attributions."""
    n_journeys = sum(n for _, n in starts)
    if n_journeys == 0:
        # empty events relation: an empty attribution table, not a
        # ZeroDivisionError in the absorb() floor division
        return []
    cnt = {(a, b): int(n) for a, b, n in trans}
    rowsum: dict[str, int] = {}
    for (a, _), n in cnt.items():
        rowsum[a] = rowsum.get(a, 0) + n
    states = sorted(
        {s for s, _ in cnt} | {t for _, t in cnt} | {s for s, _ in starts}
    )

    def absorb(removed: str | None) -> int:
        v = {s: (scale if s == conv_state else 0) for s in states}
        for _ in range(int(k_steps)):
            nv = {}
            for s in states:
                if s == conv_state:
                    nv[s] = scale
                    continue
                if s == removed or s not in rowsum:
                    nv[s] = 0
                    continue
                acc = 0
                for t in states:
                    if t == removed:
                        continue
                    acc += cnt.get((s, t), 0) * v[t]
                nv[s] = acc // rowsum[s]
            v = nv
        num = sum(
            int(n) * v[s]
            for s, n in starts
            if s != removed
        )
        return num // n_journeys

    base = absorb(None)
    rows = []
    for c in states:
        if c == conv_state:
            continue
        rem = absorb(c)
        rows.append((
            c,
            float(base) / float(scale),
            float(rem) / float(scale),
            round(float(base - rem) / float(base), 6) if base else None,
        ))
    return rows
