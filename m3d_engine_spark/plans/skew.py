"""Skew mitigation: salted joins and the one hot-key split every
pair-generating join in this package goes through.

AQE's skew-join splitting (enabled in session.py) handles most skew at
runtime by splitting oversized partitions; these explicit forms cover
the cases AQE cannot: a broadcast-ineligible join against a *hot key*
(one key ≫ one partition) and the pair-generating self-joins that
deliberately pin ReusedExchange (AQE skips splitting a join whose
shuffle is reused — repartitioning one consumer would invalidate the
other).

The hot-key split is one decision — which join keys are hot, and how
their rows spread over ``salt_parts`` tasks — and this module owns it:

* **Three join helpers.** ``salted_self_join`` (both sides are one
  relation: the banded/blocked dedup self-joins),
  ``salted_two_sided_join`` (two symmetric sides; the bigger side of
  each hot key salts) and ``salted_big_side_join`` (one side is known
  big and always salts). Each takes the caller's
  ``join(left, right, *extra_keys)`` and returns the joined rows:
  the output is identical to the plain join, because every pair
  meets exactly once, in the salted row's part.
* **One threshold rule.** ``salt_size`` is an int (a fixed per-key row
  threshold) or ``"auto"``: ``max(floor, ratio·p95)`` of the per-key
  count distribution, computed in-plan by ``auto_salt_threshold`` from
  one ``groupBy(keys).count()`` relation. ``collect_hot_threshold`` is
  the driver-side read of the same rule for callers that persist the
  threshold, and ``operators/advisor.py`` reports its percentiles.
  ``salt_size_param`` parses the CLI form of the dial, and
  ``planned_salt_size`` turns "auto" off for an input too small to
  hold a hot key.
* **One owner of** ``SALT_PART_COL``. The helpers add the part column
  to the join key and drop it from the output; callers never name it.

All forms are deterministic — the salt comes from hashing existing
columns, never ``rand()``, so results are reproducible and
oracle-checkable.
"""

from __future__ import annotations

from typing import Callable, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

SALT_PART_COL = "_salt_part"
_SIZE_COL = "_salt_bsz"
# The "auto" threshold's lower bound, ``max(floor, ratio·p95)``: no key
# of at most this many rows is ever hot (see ``auto_salt_threshold``).
AUTO_SALT_FLOOR = 4096

# join(left, right, *extra_keys) -> joined rows; the helpers pass
# SALT_PART_COL as the extra key of the hot stream
PairJoin = Callable[..., DataFrame]


def deterministic_salt(cols: Sequence[str], buckets: int) -> Column:
    """Salt in [0, buckets) from a hash of ``cols`` — stable across
    runs/retries (a rand() salt breaks task-retry determinism and any
    oracle comparison)."""
    return F.pmod(F.hash(*[F.col(c) for c in cols]), F.lit(buckets))


def salted_join(
    skewed: DataFrame,
    small: DataFrame,
    on: Sequence[str],
    salt_buckets: int = 8,
    salt_source: Sequence[str] | None = None,
    how: str = "inner",
) -> DataFrame:
    """Equi-join where ``skewed`` has hot keys: the skewed side gets a
    deterministic salt, the other side is replicated ``salt_buckets``×
    (explode of a literal range — no extra scan), and the join key
    becomes (key..., salt). A hot key's rows now spread over
    ``salt_buckets`` tasks instead of one straggler.

    Use when the small side is too big to broadcast but cheap to
    replicate k×; result is identical to the unsalted join (pinned by
    test + oracle).
    """
    salt_cols = list(salt_source or skewed.columns)
    left = skewed.withColumn("__salt", deterministic_salt(salt_cols, salt_buckets))
    right = small.withColumn(
        "__salt", F.explode(F.array(*[F.lit(i) for i in range(salt_buckets)]))
    )
    out = left.join(right, on=[*on, "__salt"], how=how)
    return out.drop("__salt")


# ------------------------------------------------------ threshold rule
def salt_size_param(p) -> int | None | str:
    """``salt_size`` CLI tri-state: absent / "auto" → self-tuning
    (the composition default), "off"/"none"/null → salting disabled,
    positive int → manual threshold, 0/negative → error (a typo must
    not silently disable the straggler control)."""
    raw = p.get_optional("salt_size", "auto")
    if raw is None or (isinstance(raw, str) and raw.lower() in ("off", "none")):
        return None
    if isinstance(raw, str) and raw.lower() == "auto":
        return "auto"
    if isinstance(raw, bool):
        # bool is an int subclass: {"salt_size": true} would coerce to
        # int(True)=1, a threshold that salts nearly every bucket.
        raise ValueError(
            f"salt_size must be a positive integer, 'auto', or "
            f"'off'; got {raw!r}"
        )
    val = int(raw)
    if val <= 0:
        raise ValueError(
            f"salt_size must be a positive integer, 'auto', or "
            f"'off'; got {raw!r}"
        )
    return val


def _is_auto(salt_size: int | str) -> bool:
    """True for ``"auto"``, False for an int threshold; any other
    string is a caller error."""
    if isinstance(salt_size, str):
        if salt_size != "auto":
            raise ValueError(
                f"salt_size must be an int or 'auto'; got {salt_size!r}"
            )
        return True
    return False


def planned_salt_size(
    salt_size: int | str | None, salt_parts: int, rows: DataFrame
) -> int | str | None:
    """The ``salt_size`` a salted join should plan with: ``"auto"``
    becomes None when ``rows`` holds at most ``AUTO_SALT_FLOOR`` rows,
    any other value passes through. ``rows`` must bound every join
    key's row count (the documents of a join where each document holds
    at most one row per key); the threshold is never below the floor,
    so no key can be hot and the plain join returns the same pairs
    without the salted plan's count exchange, histogram exchanges,
    threshold broadcast and hot stream.

    Deciding costs one bounded ``rows.take(AUTO_SALT_FLOOR + 1)``, which
    runs as ``executeTake``: one job per round, the first round scanning
    one partition and each further one up to
    ``spark.sql.limit.scaleUpFactor`` (4) times as many until it has
    the rows or has read them all. A single-partition input costs one
    job. (``limit(n).count()`` would be one job too, but its generated
    ``_limit_counter`` differs every run and recompiles on a rerun.)
    ``salt_parts`` is checked before the probe, so a bad spread factor
    fails at any corpus size."""
    if salt_size != "auto":
        return salt_size
    _check_parts(salt_parts)
    if len(rows.take(AUTO_SALT_FLOOR + 1)) <= AUTO_SALT_FLOOR:
        return None
    return salt_size


def auto_salt_threshold(
    counts: DataFrame,
    size_col: str,
    *,
    floor: int = AUTO_SALT_FLOOR,
    ratio: int = 8,
) -> DataFrame:
    """The hot-key threshold rule as a 1-ROW RELATION computed entirely
    inside the plan — no driver collect, no checkpoint. ``counts``
    holds ONE ROW PER KEY with its row count in ``size_col`` (a
    ``groupBy(keys).count()``). The relation carries the exact disc
    percentiles ``_p50`` and ``_p95`` of those counts and the threshold
    ``_thr = max(floor, ratio · _p95)``:

    * ``floor`` keeps salting OFF until a key is big enough that its
      pair stream actually stalls one task — a 4096-row bucket is
      ~8.4M generated pairs in one sort-merge task, roughly where a
      straggler becomes visible; below that the salted stream's extra
      exchange costs more than the spread saves.
    * ``ratio · p95`` keeps salting off for distributions that are
      uniformly chunky (everything near the quantile is not "hot",
      it's just the workload — salting every key re-shuffles the whole
      relation for nothing). Only out-of-distribution keys salt. The
      quantile is deliberately 0.95, not an extreme tail quantile:
      with few distinct keys p99.9+ IS the max, and ``ratio · p_max``
      can never be exceeded — the rule would go blind exactly when one
      key dominates. At real LSH scale (p95 of bucket sizes ≈ single
      digits) the ``floor`` term dominates anyway.

    The percentiles fold over a SIZE HISTOGRAM (``groupBy(size)
    .count()``: one row per distinct size, hundreds at any scale), so
    the only single-partition window sorts the histogram, never the
    key relation. A percentile is the value at the first cumulative
    key count reaching ``ceil(q·n)`` — exact, so the rule stays
    oracle-checkable. Callers that only need ``_thr`` select it;
    Catalyst prunes the rest.
    """
    hist = counts.groupBy(F.col(size_col).alias("_k")).agg(
        F.count(F.lit(1)).alias("_nk")
    )
    w_cum = Window.orderBy(F.col("_k").asc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_all = Window.orderBy(F.col("_k").asc()).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = hist.select(
        "_k",
        F.sum("_nk").over(w_cum).alias("_cum"),
        F.sum("_nk").over(w_all).alias("_nb"),
    )

    def _pct(q: float) -> Column:
        return F.min(
            F.when(F.col("_cum") >= F.ceil(F.lit(q) * F.col("_nb")), F.col("_k"))
        )

    return cum.agg(_pct(0.5).alias("_p50"), _pct(0.95).alias("_p95")).select(
        "_p50",
        "_p95",
        F.greatest(
            F.lit(int(floor)).cast("bigint"), F.lit(int(ratio)) * F.col("_p95")
        ).alias("_thr"),
    )


def collect_hot_threshold(
    counts: DataFrame,
    size_col: str,
    salt_size: int | str,
    *,
    floor: int = AUTO_SALT_FLOOR,
    ratio: int = 8,
) -> int | None:
    """The threshold as a driver-side int, for callers that persist it
    (the dedup artifacts). ``counts`` holds one row per key with its
    row count in ``size_col``; ``salt_size`` is an int or ``"auto"``
    (``auto_salt_threshold``'s rule over ``counts``).

    One collect returns the threshold together with the largest key:
    the result is None when no key exceeds the threshold (an empty
    ``counts`` included), so callers keep the plain plan.
    """
    if _is_auto(salt_size):
        thr = auto_salt_threshold(counts, size_col, floor=floor, ratio=ratio)
    else:
        thr = counts.sparkSession.range(1).select(
            F.lit(int(salt_size)).cast("bigint").alias("_thr")
        )
    row = thr.crossJoin(counts.agg(F.max(size_col).alias("_mx"))).collect()[0]
    if row["_mx"] is None or row["_mx"] <= row["_thr"]:
        return None
    return int(row["_thr"])


# -------------------------------------------------------- join helpers
def _check_parts(salt_parts: int) -> None:
    if salt_parts < 2:
        raise ValueError("salt_parts must be ≥ 2 when salt_size is set")


def _check_salted(
    what: str, salt_parts: int, reserved: set[str], **sides: DataFrame
) -> None:
    _check_parts(salt_parts)
    for side, df in sides.items():
        # a caller column silently clobbered by withColumn would turn
        # into corrupted pair output (or an AMBIGUOUS_REFERENCE deep in
        # the plan), not this deliberate error
        clash = reserved & set(df.columns)
        if clash:
            raise ValueError(
                f"{what} reserves column name(s) {sorted(clash)} (clash "
                f"on the {side} input); rename the conflicting column(s)"
            )


def _part_of(id_col: str, salt_parts: int) -> Column:
    """The salted side's part: a deterministic hash of the row id."""
    return F.pmod(F.xxhash64(F.col(id_col)), F.lit(salt_parts))


def _all_parts(salt_parts: int) -> Column:
    """Every part, for the replicated side."""
    return F.sequence(F.lit(0).cast("long"), F.lit(salt_parts - 1).cast("long"))


def _flag_hot(
    rel: DataFrame,
    key_cols: Sequence[str],
    salt_size: int | str,
    floor: int,
    ratio: int,
) -> tuple[DataFrame, Column, list[str], DataFrame, DataFrame | None]:
    """Attach the per-key row count (and, under ``"auto"``, the
    threshold) to ``rel``. Returns ``(rel, is_hot, helper columns to
    drop, per-key count relation, broadcast threshold relation)``.

    The count on ``rel`` is a window over ``key_cols``, reading the
    same exchange the join shuffles on. The threshold folds over a
    separate ``groupBy(keys)`` count relation (returned too), because
    a fold over the window would not reuse its exchange: column
    pruning specializes that input, so it would re-shuffle the whole
    relation to learn one number. The groupBy's partial aggregate
    combines map-side, so ``"auto"`` costs one extra exchange of
    per-key counts, plus the histogram's two exchanges of one row per
    distinct size. The expensive lineage below ``rel``'s first
    exchange is shared by both streams through runtime stage reuse.
    """
    stats = rel.groupBy(*key_cols).agg(F.count(F.lit(1)).alias(_SIZE_COL))
    rel = rel.withColumn(
        _SIZE_COL, F.count(F.lit(1)).over(Window.partitionBy(*key_cols))
    )
    if not _is_auto(salt_size):
        return rel, F.col(_SIZE_COL) > int(salt_size), [_SIZE_COL], stats, None
    thr = F.broadcast(
        auto_salt_threshold(stats, _SIZE_COL, floor=floor, ratio=ratio).select(
            "_thr"
        )
    )
    return (
        rel.crossJoin(thr), F.col(_SIZE_COL) > F.col("_thr"),
        [_SIZE_COL, "_thr"], stats, thr,
    )


def salted_self_join(
    rel: DataFrame,
    key_cols: Sequence[str],
    id_col: str,
    join: PairJoin,
    salt_size: int | str | None,
    salt_parts: int,
    *,
    floor: int = AUTO_SALT_FLOOR,
    ratio: int = 8,
) -> DataFrame:
    """``join(rel, rel)`` with hot keys salted — the pair-generation
    counterpart of ``salted_join``.

    Every banded/blocked dedup self-join in this package shares one
    straggler mode: a single join key (a shingle, an LSH bucket, a
    SimHash band slice, a deletion variant) with k rows fans its
    k·(k−1)/2 candidate pairs into ONE sort-merge-join task. AQE
    cannot split these — the plans pin ReusedExchange so the signature
    pipeline evaluates once, and AQE skips joins whose shuffle is
    reused. Rows of keys hotter than ``salt_size`` are split off: the
    LEFT copy gets a deterministic part ``pmod(xxhash64(id),
    salt_parts)``, the RIGHT copy replicates once per part, and their
    join adds ``SALT_PART_COL`` to the equi-key. Every intra-key
    (id_a < id_b) pair still meets exactly once — in the left row's
    part — so the output, ``join(cold, cold) ∪ join(hot_l, hot_r,
    SALT_PART_COL)``, is IDENTICAL to the unsalted join while the hot
    key's pair stream spreads over ``salt_parts`` tasks. Cold keys keep
    the original (exchange-reused) self-join.

    ``salt_size=None`` is the plain plan, ``join(rel, rel)``.

    ``salt_size="auto"`` is the self-tuning form: the threshold is
    ``auto_salt_threshold``'s 1-row relation over the per-key counts,
    broadcast-joined back so every row compares against it IN-PLAN —
    no driver collect, no checkpoint. On un-skewed data the hot stream
    is empty at runtime and the cold stream carries everything; the
    threshold still costs an exchange of map-side-combined per-key
    counts, the histogram's two exchanges and the hot stream's plan
    (see ``_flag_hot``).
    """
    if salt_size is None:
        return join(rel, rel)
    _check_salted(
        "salted self-join", salt_parts, {SALT_PART_COL, _SIZE_COL, "_thr"},
        input=rel,
    )
    rel, is_hot, drop_cols, _, _ = _flag_hot(rel, key_cols, salt_size, floor, ratio)
    cold = rel.filter(~is_hot).drop(*drop_cols)
    hot = rel.filter(is_hot).drop(*drop_cols)
    hot_left = hot.withColumn(SALT_PART_COL, _part_of(id_col, salt_parts))
    hot_right = hot.withColumn(SALT_PART_COL, F.explode(_all_parts(salt_parts)))
    return join(cold, cold).unionByName(join(hot_left, hot_right, SALT_PART_COL))


def salted_two_sided_join(
    left: DataFrame,
    right: DataFrame,
    key_cols: Sequence[str],
    left_id: str,
    right_id: str,
    join: PairJoin,
    salt_size: int | str | None,
    salt_parts: int,
) -> DataFrame:
    """``join(left, right)`` with hot keys salted, for two SYMMETRIC
    sides (the ``record_linkage`` hot-block pattern): per hot key
    (either side's count > ``salt_size``) the BIGGER side gets a
    deterministic part ``pmod(xxhash64(id), salt_parts)`` and the
    smaller side replicates once per part; cold keys carry part 0 on
    both sides. Both streams go through ONE ``join(l, r,
    SALT_PART_COL)`` and the part is dropped — output identical to the
    unsalted join (every (l, r) pair meets exactly once, in the salted
    row's part). ``salt_size=None`` is ``join(left, right)``.

    Which side salts is decided PER KEY from a broadcast count
    relation (≤ N/salt_size hot rows by construction) — the caller
    never has to know which side is skewed. Both inputs must already
    expose ``key_cols`` under the same names; ``left_id``/``right_id``
    seed the deterministic salt. ``salt_size="auto"`` derives the
    threshold in-plan from the distribution of the per-key LARGER-side
    counts (``auto_salt_threshold`` over the count relation itself —
    exactly the quantity the hot filter tests).
    """
    if salt_size is None:
        return join(left, right)
    _check_salted(
        "salted two-sided join", salt_parts,
        {SALT_PART_COL, "_lsalts", "_cl", "_cr", "_cmax", "_thr"},
        left=left, right=right,
    )
    keys = list(key_cols)
    cnt = (
        left.groupBy(keys).agg(F.count(F.lit(1)).alias("_cl"))
        .join(right.groupBy(keys).agg(F.count(F.lit(1)).alias("_cr")), on=keys)
        .withColumn("_cmax", F.greatest("_cl", "_cr"))
    )
    if _is_auto(salt_size):
        cnt = cnt.crossJoin(
            F.broadcast(auto_salt_threshold(cnt, "_cmax").select("_thr"))
        )
        hot_pred = F.col("_cmax") > F.col("_thr")
    else:
        hot_pred = F.col("_cmax") > int(salt_size)
    bc_hot = cnt.filter(hot_pred).select(
        *keys, (F.col("_cl") >= F.col("_cr")).alias("_lsalts")
    )
    one = F.array(F.lit(0).cast("long"))
    allp = _all_parts(salt_parts)

    def _tag(df: DataFrame, id_col: str, salts_when: Column) -> DataFrame:
        return (
            df.join(F.broadcast(bc_hot), on=keys, how="left")
            .withColumn(
                SALT_PART_COL,
                F.explode(
                    F.when(F.col("_lsalts").isNull(), one)  # cold key
                    .when(salts_when, F.array(_part_of(id_col, salt_parts)))
                    .otherwise(allp)  # other side salts → replicate
                ),
            )
            .drop("_lsalts")
        )

    return join(
        _tag(left, left_id, F.col("_lsalts")),
        _tag(right, right_id, ~F.col("_lsalts")),
        SALT_PART_COL,
    ).drop(SALT_PART_COL)


def salted_big_side_join(
    small: DataFrame,
    big: DataFrame,
    key_cols: Sequence[str],
    big_id: str,
    join: PairJoin,
    salt_size: int | str,
    salt_parts: int,
    *,
    floor: int = AUTO_SALT_FLOOR,
    ratio: int = 8,
) -> DataFrame:
    """``join(small, big)`` with hot keys salted, for the ASYMMETRIC
    case — ``big`` is a corpus-derived relation whose lineage is
    expensive, ``small`` a batch. Returns ``join(cold_small, cold_big)
    ∪ join(hot_small, hot_big, SALT_PART_COL)`` — output identical to
    the plain join (a pair's key is either hot or cold, and within a
    hot key every pair meets exactly once, in the big row's part).
    Salting only: callers whose plain join differs in shape keep it
    for ``salt_size=None``.

    Where ``salted_two_sided_join`` derives hotness from groupBy count
    relations of BOTH sides (fine when both sides are cheap scans, as
    in record_linkage), this form never re-reads the big side's
    SOURCE: the expensive prefix of ``big``'s lineage up to its first
    exchange (for the dedup callers: shingle → minhash, the dominant
    cost) is canonically identical under every branch, so runtime
    stage reuse materializes it ONCE — pinned as an executed-plan walk
    in ``tests/test_plans.py::
    test_incremental_dedup_auto_reuses_corpus_exchange`` (the corpus
    file contributes exactly one live scan to this construction).
    Above that reuse point the streams split in two (see
    ``_flag_hot``): the join stream, whose per-key count is a window
    over the same exchange the cold join shuffles on (cold big rows
    reach their join with no second exchange; only the hot slice
    re-shuffles, on (key..., part)), and the stats stream, one
    ``groupBy(keys)`` count relation that feeds both the hot-key set
    and (under ``"auto"``) the threshold histogram. The small side
    learns hotness from the broadcast hot-key set.

    The big side always salts and the small side always replicates —
    correct by the caller's contract that ``small`` ≪ ``big`` per key
    (replicating a few batch rows ``salt_parts``× is cheaper than
    counting both sides to pick a winner; use
    ``salted_two_sided_join`` when the sides are symmetric).
    """
    _check_salted(
        "salted big-side join", salt_parts, {SALT_PART_COL, _SIZE_COL, "_thr"},
        small=small, big=big,
    )
    keys = list(key_cols)
    big_w, is_hot, drop_cols, stats, thr = _flag_hot(
        big, keys, salt_size, floor, ratio
    )
    hot_stats = (stats if thr is None else stats.crossJoin(thr)).filter(is_hot)
    cold_big = big_w.filter(~is_hot).drop(*drop_cols)
    hot_big = (
        big_w.filter(is_hot)
        .drop(*drop_cols)
        .withColumn(SALT_PART_COL, _part_of(big_id, salt_parts))
    )
    # already one row per key (aggregate output) — no distinct needed
    hot_keys = F.broadcast(hot_stats.select(*keys))
    cold_small = small.join(hot_keys, on=keys, how="left_anti")
    hot_small = small.join(hot_keys, on=keys, how="left_semi").withColumn(
        SALT_PART_COL, F.explode(_all_parts(salt_parts))
    )
    return join(cold_small, cold_big).unionByName(
        join(hot_small, hot_big, SALT_PART_COL)
    )
