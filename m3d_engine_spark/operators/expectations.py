"""Declarative data-quality expectations over any relation.

Beyond-reference capability on the reliability surface next to
``reporting.fk_audit`` (referential integrity) and
``reporting.data_profile`` (shape): the great-expectations-style
contract check — a table of named boolean rules evaluated in ONE pass,
returning a per-rule violation census a pipeline can gate on. This is
the params-friendly form (rules are plain SQL predicate strings, so
they live in the same JSON config files as everything else in this
engine).

NULL-fails-closed: a rule evaluating to NULL counts as a violation
(SQL ``CHECK`` lets NULL pass; data contracts must not — an
unexpectedly NULL column is exactly what the check exists to catch).
Write ``col IS NULL OR …`` when NULLs are acceptable.

Scale: all rules fold into one map-side-combinable aggregate over one
scan — checking 50 rules costs one pass, not 50 (the
``data_profile`` discipline); the unpivot reshapes the 1-row result.
"""

from __future__ import annotations

from typing import Mapping

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def expectations_check(
    df: DataFrame, rules: Mapping[str, str]
) -> DataFrame:
    """Evaluate every rule (name → SQL boolean predicate, TRUE = row
    passes) and return one row per rule:
    ``(rule, n_rows, n_violations, violation_rate, passed)`` with
    ``passed = 1`` iff no row violates. Rule order is preserved in
    the output relation's construction but the result is a relation —
    order by ``rule`` for display."""
    if not rules:
        raise ValueError("at least one rule is required")
    aggs = [F.count(F.lit(1)).alias("_n")]
    for i, (name, pred) in enumerate(rules.items()):
        aggs.append(
            F.sum(
                F.when(F.coalesce(F.expr(pred), F.lit(False)), 0).otherwise(1)
            ).alias(f"_v{i}")
        )
    row = df.agg(*aggs)
    # escape backslashes BEFORE quotes: Spark's string-literal parser
    # eats lone backslashes, mangling the reported rule name
    def _lit(name: str) -> str:
        return name.replace("\\", "\\\\").replace(chr(39), chr(39) * 2)

    stack = ", ".join(
        f"'{_lit(name)}', _v{i}" for i, name in enumerate(rules)
    )
    return row.select(
        F.expr(
            f"stack({len(rules)}, {stack}) AS (rule, n_violations)"
        ),
        F.col("_n").alias("n_rows"),
    ).select(
        "rule",
        "n_rows",
        # F.sum over ZERO rows is NULL: an empty (legitimately!) table
        # must report 0 violations / passed=1, not fail every rule
        F.coalesce(F.col("n_violations"), F.lit(0))
        .cast("long").alias("n_violations"),
        F.when(
            F.col("n_rows") > 0,
            F.round(
                F.coalesce(F.col("n_violations"), F.lit(0))
                / F.col("n_rows"),
                6,
            ),
        ).otherwise(F.lit(0.0)).alias("violation_rate"),
        F.when(
            F.coalesce(F.col("n_violations"), F.lit(0)) == 0, 1
        ).otherwise(0).cast("int").alias("passed"),
    )


def table_checksum(df: DataFrame) -> DataFrame:
    """Order-independent relation fingerprint: one row
    ``(n_rows, checksum)`` where the checksum is the sum of per-row
    64-bit hashes in DECIMAL(38,0) — commutative, so ANY partitioning,
    ordering, or engine produces the same value for the same multiset
    of rows. The cheap are-these-tables-identical probe in front of
    ``snapshot_diff``'s full per-row comparison: equal checksums +
    equal counts ⇒ almost surely identical (64-bit collision odds);
    different ⇒ certainly different, and the expensive diff runs only
    then.

    Rows hash via the engine's md5 discipline (first 15 hex digits →
    60-bit int) over every column cast to string with a NULL sentinel
    and a unit-separator join — the same null-safe fingerprinting as
    snapshot_diff, and md5-of-identical-bytes makes the checksum
    CROSS-ENGINE comparable too (mind float columns: engines format
    doubles differently, so canonicalize or exclude them when
    comparing across engines; within one engine any column is fine).
    One map-side-combinable aggregate; nothing shuffles but partial
    sums.
    """
    cols = [
        F.coalesce(F.col(c).cast("string"), F.lit("\x00null"))
        for c in df.columns
    ]
    h = F.conv(
        F.substring(F.md5(F.concat_ws("\x1f", *cols)), 1, 15), 16, 10
    ).cast("long")
    return df.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(h.cast("decimal(38,0)")).cast("string").alias("checksum"),
    )


# --------------------------------------------------------------------------
# CLI algorithm: params-driven dispatch (the CurationPipeline pattern)
# --------------------------------------------------------------------------

from m3d_engine_spark.operators.base import Algorithm, register, tracked_checkpoint  # noqa: E402


@register("ExpectationsCheck")
class ExpectationsCheckAlgorithm(Algorithm):
    """``expectations_check`` behind the JSON-params dispatch — the
    contract gate as a schedulable job:

        python -m m3d_engine_spark ExpectationsCheck params.json

    Config keys: source_location OR source_table; rules (object:
    name → SQL predicate); target_location OR target_table (the
    report relation, via the shared write_output surface);
    fail_on_violation (default true) — raise AFTER writing the report
    when any rule fails, so schedulers stop the pipeline but the
    evidence is on disk.
    """

    def read(self) -> list[DataFrame]:
        if self.params.has("source_table"):
            return [self.spark.table(self.params.get_string("source_table"))]
        return [
            self.spark.read.parquet(self.params.get_string("source_location"))
        ]

    def transform(self, dfs: list[DataFrame]) -> list[DataFrame]:
        rules = self.params.get_optional("rules", None)
        if not isinstance(rules, dict) or not rules:
            raise ValueError("params must carry a non-empty 'rules' object")
        return [expectations_check(dfs[0], rules)]

    def write(self, dfs: list[DataFrame]) -> None:
        from m3d_engine_spark.sources.writers import write_output

        # read twice: the report write, then the failed-rule collect
        report = tracked_checkpoint(dfs[0], self._checkpointed)
        write_output(self.spark, report, self.params)
        if self.params.get_optional("fail_on_violation", True):
            failed = [r.rule for r in report.collect() if r.passed == 0]
            if failed:
                raise RuntimeError(
                    f"data contract violated by rules: {sorted(failed)}"
                )
