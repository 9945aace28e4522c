"""Snapshot diff: what changed between two versions of a table.

Beyond-reference capability, but squarely in the reference's world:
its load algorithms produce timestamped table versions (FullLoad swap
dirs, DeltaLoad condensed states — see ``operators/full_load.py``,
``operators/delta_load.py``); this operator answers the operational
question those versions raise — "what did last night's load actually
change?" — for audits, reconciliation, and CDC backfills when no
change stream exists.

Row identity is the business key; row content is compared by an md5
fingerprint over the compared columns (null-safe: each value is
``coalesce(cast(c as string), sentinel)`` before the concat, so a NULL
can never alias a real value or a column shift). Classification:

    added    — key only in the new snapshot
    removed  — key only in the old snapshot
    changed  — key in both, fingerprints differ
    unchanged — key in both, fingerprints equal (excluded by default)

Topology: fingerprinting is a map-side projection on each scan; the
FULL OUTER join is one sort-merge join keyed on the business key — the
same single co-partitioned exchange pair ANY keyed comparison of two
corpora must pay, and nothing else. At 100 TB both sides shuffle once
on the key; if the snapshots are written bucketed by the key (see
``sources/bucketing.py``) even that exchange disappears.

Determinism: md5 over canonical strings; output is (key…, status,
old_fp, new_fp) with exact values — no floats anywhere.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# A NUL character cannot appear in real column text, so NULL can never
# alias a value (DuckDB twin: chr(0)).
_NULL_SENTINEL = "\x00"


def row_fingerprint(cols: Sequence[str]) -> Column:
    """md5 over the null-safe canonical concat of ``cols`` (order
    matters — pass the same column order on both sides)."""
    parts = [
        F.coalesce(F.col(c).cast("string"), F.lit(_NULL_SENTINEL)) for c in cols
    ]
    return F.md5(F.concat_ws("|", *parts))


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    key_cols: Sequence[str],
    compare_cols: Sequence[str],
    include_unchanged: bool = False,
) -> DataFrame:
    """Classify every business key across two snapshots.

    Returns (key_cols…, status, old_fp, new_fp); ``status`` ∈
    {added, removed, changed[, unchanged]}. ``compare_cols`` must be
    types with engine-stable string casts (int/decimal/date/string —
    cast raw doubles to decimal first).
    """
    key_cols = list(key_cols)
    o = old.select(
        *[F.col(c) for c in key_cols],
        row_fingerprint(compare_cols).alias("old_fp"),
    )
    n = new.select(
        *[F.col(c) for c in key_cols],
        row_fingerprint(compare_cols).alias("new_fp"),
    )
    joined = o.join(n, on=key_cols, how="full_outer")
    status = (
        F.when(F.col("old_fp").isNull(), F.lit("added"))
        .when(F.col("new_fp").isNull(), F.lit("removed"))
        .when(F.col("old_fp") != F.col("new_fp"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    out = joined.select(*key_cols, status.alias("status"), "old_fp", "new_fp")
    if not include_unchanged:
        out = out.filter(F.col("status") != "unchanged")
    return out
