"""CDC condensation + in-memory delta merge (DeltaLoad).

Reference parity: algo/loads/DeltaLoad.scala —
* **condense**: keep the latest change record per business key, ranked by
  the technical key(s) descending (DeltaLoad.scala:60-79):
  ``row_number() OVER (PARTITION BY bk ORDER BY tk DESC) = 1``;
* **merge**: replace matching active rows with upserts, drop deletes
  (DeltaLoad.scala:25-52). The reference computes
  ``(active EXCEPT (active LEFTSEMI delta)) UNION upserts``; we use a
  single LEFT_ANTI join — identical result, one fewer shuffle, and it
  does not impose EXCEPT's distinct semantics on the survivors.

Record-mode semantics (config/loads/DeltaLoadConfiguration.scala:37-44):
``recordmode IN (null, '', 'N')`` → upsert; anything else ('R','D','X')
→ delete.

Scale notes:
* Condensation is a ranking window behind a shuffle on the business key.
  AQE splits skewed joins, not windows: a hot key stays in one task.
* The merge reads the condensed frame twice, as the anti-join's key set
  and as the upserts. Column pruning would give the two reads two
  plans, each running the window behind its own ``hashpartitioning``
  on the business key, so ``condensed`` is a tracked lazy checkpoint
  and both reads scan the one computed relation: the window runs once.
  The anti-join is a ``BroadcastHashJoin`` of the condensed keys, so
  the active side is not shuffled.
* The merge only rewrites *affected partitions*: callers first scope the
  active side with ``partition_predicate`` (plans/partitions.py), which
  prunes at the parquet scan — the reference's row-lambda filter read
  the entire active table instead (SURVEY.md §4).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from m3d_engine_spark.config import ParamsFile
from m3d_engine_spark.operators.base import Algorithm, register, tracked_checkpoint
from m3d_engine_spark.plans.partitions import (
    add_missing_columns,
    collect_partitions,
    partition_predicate,
)

UPSERT_RECORD_MODES = ("", "N")  # plus NULL


def _is_upsert(record_mode_col: str) -> Column:
    c = F.col(record_mode_col)
    return c.isNull() | c.isin(*UPSERT_RECORD_MODES)


def condense(
    delta: DataFrame,
    business_keys: Sequence[str],
    technical_keys: Sequence[str],
    record_mode_column: str | None = None,
    init_load: bool = False,
    records_to_condense: Sequence[str] | None = None,
) -> DataFrame:
    """Latest change record per business key.

    ``init_load`` appends ``record_mode ASC`` to the ordering, matching
    DeltaLakeLoad.scala:166-178 (deletes sort after upserts on ties).
    ``records_to_condense`` reproduces the reference's
    recordModesFilterFunction placement exactly
    (DeltaLakeLoad.scala:174-178): the filter runs AFTER ranking, so a
    business key whose NEWEST record carries an excluded record mode is
    dropped entirely — rank 2 does not get promoted."""
    order = [F.col(k).desc() for k in technical_keys]
    if init_load and record_mode_column:
        order.append(F.col(record_mode_column).asc())
    w = Window.partitionBy(*[F.col(k) for k in business_keys]).orderBy(*order)
    ranked = delta.withColumn("__rank", F.row_number().over(w))
    if records_to_condense and record_mode_column:
        ranked = ranked.filter(
            F.col(record_mode_column).isin(*records_to_condense)
        )
    return ranked.filter(F.col("__rank") == 1).drop("__rank")


def merge_delta(
    active: DataFrame,
    condensed: DataFrame,
    business_keys: Sequence[str],
    record_mode_column: str = "recordmode",
    records_to_delete: Sequence[str] | None = None,
    match_operator: str = "AND",
) -> DataFrame:
    """Survivors (active rows whose key has no delta record) ∪ upserts.

    Output columns = active's columns: technical keys and the record-mode
    marker are projected away from the delta side.
    ``records_to_delete`` switches the upsert test from the fixed
    UPSERT_RECORD_MODES allowlist to the reference's configurable
    delete-set complement (DeltaLakeLoadConfiguration.scala:61);
    ``match_operator`` ("AND"/"OR") mirrors business_key_match_operator
    (:43) — OR matching turns the anti-join non-equi, so it's only the
    dial for degenerate single-key-ish schemas, same as the reference.
    """
    op = match_operator.strip().upper()
    if op not in ("AND", "OR"):
        # same validation as merge_condition — a typo'd operator must not
        # silently run AND matching on this backend while raising on the
        # delta-spark one
        raise ValueError(
            f"business_key_match_operator must be AND or OR, got {match_operator!r}"
        )
    if op == "OR" and len(business_keys) > 1:
        cond = None
        for k in business_keys:
            term = active[k].eqNullSafe(condensed[k])
            cond = term if cond is None else (cond | term)
        survivors = active.join(condensed, cond, "left_anti")
    else:
        survivors = active.join(
            condensed.select(*business_keys), on=list(business_keys), how="left_anti"
        )
    if records_to_delete is not None:
        if not records_to_delete:  # explicit []: nothing is a delete
            upserts = condensed
        else:
            c = F.col(record_mode_column)
            upserts = condensed.filter(c.isNull() | ~c.isin(*records_to_delete))
    else:
        upserts = condensed.filter(_is_upsert(record_mode_column))
    aligned = add_missing_columns(upserts, active.schema)
    return survivors.unionByName(aligned)


@register("DeltaLoad")
class DeltaLoadAlgorithm(Algorithm):
    """Config: delta_records_table/file_path, active_records_table_lake,
    business_key [..], technical_key [..], record_mode_column,
    target_partitions + partition_column/partition_column_format.
    """

    def read(self) -> list[DataFrame]:
        p = self.params
        if p.has("delta_records_file_path"):
            delta = self.spark.read.parquet(p.get_string("delta_records_file_path"))
        else:
            # Reference key is 'delta_records_table_lake'
            # (DeltaLoadConfiguration.scala); keep the short form as an
            # alias so both acon spellings load.
            key = (
                "delta_records_table_lake"
                if p.has("delta_records_table_lake")
                else "delta_records_table"
            )
            delta = self.spark.table(p.get_string(key))
        active = self.spark.table(p.get_string("active_records_table_lake"))
        return [delta, active]

    def transform(self, dfs: list[DataFrame]) -> list[DataFrame]:
        p = self.params
        delta, active = dfs
        bk = p.get_list("business_key")
        tk = p.get_list("technical_key")
        rm = p.get_optional("record_mode_column", "recordmode")
        targets = p.get_optional("target_partitions", [])
        if targets:
            # Derive date components only when the delta does not already
            # carry every target partition column (DeltaLoad.scala:85-92)
            # — partitions may be pre-existing data columns (e.g.
            # customer), in which case there is nothing to derive.
            if any(t not in delta.columns for t in targets):
                from m3d_engine_spark.functions.dates import with_date_components

                delta = with_date_components(
                    delta,
                    p.get_string("partition_column"),
                    p.get_string("partition_column_format"),
                    targets,
                )
            delta = tracked_checkpoint(delta, self._checkpointed)
            affected = collect_partitions(delta, targets)
            self.affected = affected
            # Partition-pruned scan of the active table (SURVEY.md §4).
            active = active.filter(partition_predicate(affected))
        # pinned: the merge reads it twice (anti-join keys, upserts)
        condensed = tracked_checkpoint(
            condense(delta, bk, tk, record_mode_column=rm), self._checkpointed
        )
        return [merge_delta(active, condensed, bk, record_mode_column=rm)]

    def update_statistics(self) -> None:
        if self.params.has("target_table"):
            from m3d_engine_spark.sources import catalog as cat

            table = self.params.get_string("target_table")
            # Only the partitions this delta touched (raw values from
            # collect_partitions) — O(affected), not O(table).
            cat.compute_statistics(
                self.spark, table, partition_specs=getattr(self, "affected", [])
            )

    def write(self, dfs: list[DataFrame]) -> None:
        from m3d_engine_spark.config import ConfigError
        from m3d_engine_spark.sources.writers import write_output

        if self.params.get_optional("target_partitions"):
            # transform() pruned the active side to affected partitions;
            # writing that as a whole-table overwrite would silently drop
            # every unaffected partition. The reference hardwires the
            # partition-respecting mode (DeltaLoadConfiguration.scala:74-80).
            if self.params.get_optional("load_mode") == "OverwriteTable":
                raise ConfigError(
                    "DeltaLoad with target_partitions produces a partition-"
                    "scoped result; load_mode=OverwriteTable would delete "
                    "unaffected partitions. Use OverwritePartitions[WithAddedColumns]."
                )
            write_output(
                self.spark, dfs[0], self.params,
                default_load_mode="OverwritePartitionsWithAddedColumns",
                # the DELTA's criteria, not the merged frame's: a
                # partition whose every active row was deleted has zero
                # output rows and must still be rewritten (emptied)
                affected=getattr(self, "affected", None),
            )
            return
        write_output(self.spark, dfs[0], self.params)
