"""CDC merge into a Delta Lake table (DeltaLakeLoad).

Reference parity: algo/loads/DeltaLakeLoad.scala — condense new data,
``MERGE INTO`` with delete/update/insert clauses, optional vacuum +
compaction, then snapshot affected partitions into the Parquet lake
table (DeltaLakeLoad.scala:128-146, 166-178, 318-352).

``delta-spark`` is not installed in this container, so the module is
import-gated: with Delta available, ``merge_into_delta`` drives the real
``DeltaTable.merge`` (ACID, partition-pruned by the merge condition);
without it, ``DeltaLakeLoadAlgorithm`` falls back to the semantically
identical in-memory merge from operators/delta_load.py and a
dynamic-partition-overwrite parquet write. The merge *semantics* —
condensation, delete record modes, affected-partition scoping — are
identical either way and are what the tests pin down.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from m3d_engine_spark.config import ParamsFile
from m3d_engine_spark.operators.base import Algorithm, register, tracked_checkpoint
from m3d_engine_spark.operators.delta_load import condense, merge_delta
from m3d_engine_spark.plans.partitions import collect_partitions, partition_predicate

try:  # pragma: no cover - depends on environment
    from delta.tables import DeltaTable  # type: ignore

    HAS_DELTA = True
except Exception:  # ModuleNotFoundError in this container
    DeltaTable = None  # type: ignore
    HAS_DELTA = False

DELETE_RECORD_MODES = ("R", "D", "X")  # DeltaLakeLoadConfiguration.scala:63-65


def merge_condition(
    business_keys: Sequence[str],
    affected_partitions: Sequence[Sequence[tuple[str, object]]] = (),
    current_alias: str = "currentData",
    new_alias: str = "newData",
    operator: str = "AND",
) -> str:
    """Merge condition string incl. the partition-pruning predicate and
    null-partition guard (DeltaLakeLoad.scala:213-283). Literals go
    through the shared ``sql_literal`` escaping (quotes in partition
    values, None → NULL under the null-safe ``<=>``); column identifiers
    are backtick-quoted so hostile names (spaces, backticks) stay valid
    SQL — the reference interpolates them raw, we harden."""
    from m3d_engine_spark.plans.partitions import sql_literal

    def q(name: str) -> str:
        return "`" + name.replace("`", "``") + "`"

    parts = [f"{current_alias}.{q(k)} <=> {new_alias}.{q(k)}" for k in business_keys]
    # business_key_match_operator (DeltaLakeLoadConfiguration.scala:42-43)
    op = operator.strip().upper()
    if op not in ("AND", "OR"):
        raise ValueError(f"business_key_match_operator must be AND or OR, got {operator!r}")
    cond = f" {op} ".join(parts)
    if op == "OR" and len(parts) > 1:
        cond = f"({cond})"
    if affected_partitions:
        ors = []
        for crit in affected_partitions:
            ands = [
                f"{current_alias}.{q(c)} <=> {sql_literal(v)}" for c, v in crit
            ]
            ors.append("(" + " AND ".join(ands) + ")")
        cond = f"({cond}) AND ({' OR '.join(ors)})"
    return cond


def merge_into_delta(
    spark: SparkSession,
    delta_table_path: str,
    new_data: DataFrame,
    business_keys: Sequence[str],
    record_mode_column: str = "recordmode",
    affected_partitions: Sequence[Sequence[tuple[str, object]]] = (),
    records_to_delete: Sequence[str] | None = None,
    match_operator: str = "AND",
) -> None:
    """Real Delta Lake MERGE (requires delta-spark):
    whenMatched(delete-mode) → delete; whenMatched → updateAll;
    whenNotMatched(not delete-mode) → insertAll
    (DeltaLakeLoad.scala:128-146). ``records_to_delete`` /
    ``match_operator`` are the reference's configurable delete-mode set
    and business_key_match_operator dials."""
    if not HAS_DELTA:
        raise ModuleNotFoundError("delta-spark not available in this environment")
    from m3d_engine_spark.plans.partitions import sql_literal

    cond = merge_condition(business_keys, affected_partitions, operator=match_operator)
    rm_q = "`" + record_mode_column.replace("`", "``") + "`"
    deletes = (
        tuple(records_to_delete) if records_to_delete is not None
        else DELETE_RECORD_MODES
    )
    # sql_literal, not repr: these are user-configurable values now and
    # repr('D\'EL') would emit double-quoted (identifier) SQL
    is_delete = (
        "false" if not deletes
        else f"newData.{rm_q} IN ({', '.join(sql_literal(m) for m in deletes)})"
    )
    (
        DeltaTable.forPath(spark, delta_table_path)
        .alias("currentData")
        .merge(new_data.alias("newData"), cond)
        .whenMatchedDelete(condition=is_delete)
        .whenMatchedUpdateAll()
        .whenNotMatchedInsertAll(condition=f"NOT ({is_delete})")
        .execute()
    )


@register("DeltaLakeLoad")
class DeltaLakeLoadAlgorithm(Algorithm):
    """Config mirrors DeltaLoad plus: delta_table_dir (the persistent
    CDC-merged table the reference keeps under _delta_log,
    DeltaLakeLoad.scala:59-120), vacuum_retention_period / is_to_vacuum,
    compact_table + output_partitions_num, target_location /
    target_table (the Parquet lake snapshot target).

    With delta-spark present the merge/vacuum/compaction run through
    DeltaTable (ACID, dataChange=false rewrites); without it the SAME
    lifecycle runs on a plain parquet delta dir: init write → per-run
    partition-scoped merge rewrite → compaction via partition rewrite →
    affected-partition snapshot to the lake. Vacuum is a no-op on the
    fallback (plain parquet keeps no version history to reclaim).
    Observable table contents are identical either way — the tests pin
    the lifecycle on the fallback."""

    def __init__(self, spark: SparkSession, params: ParamsFile):
        super().__init__(spark, params)
        self.affected: list = []

    def read(self) -> list[DataFrame]:
        p = self.params
        src = p.get_optional("source_location") or p.get_string("source_dir")
        if p.get_optional("file_format", "parquet") == "parquet":
            return [self.spark.read.parquet(src)]
        from m3d_engine_spark.sources.formats import format_from_params

        fmt = format_from_params(dict(p.params))
        if fmt.schema is None:
            fmt.options["inferSchema"] = "true"
        return [fmt.read(self.spark, src)]

    # ----------------------------------------------------------- helpers
    def _delta_dir(self) -> str | None:
        return self.params.get_optional("delta_table_dir")

    def _delta_exists(self) -> bool:
        d = self._delta_dir()
        return bool(d) and _dfs_has_files(self.spark, d)

    def _is_real_delta(self) -> bool:
        d = self._delta_dir()
        return bool(d) and HAS_DELTA and DeltaTable.isDeltaTable(self.spark, d)

    def _read_delta(self) -> DataFrame:
        # A real Delta dir MUST be read through the delta format
        # (DeltaTable.forPath(...).toDF, DeltaLakeLoad.scala:79): reading
        # it as plain parquet would include tombstoned files Delta keeps
        # for time travel, resurrecting deleted/superseded rows in the
        # snapshot and in _compact's rewrite.
        if self._is_real_delta():
            return self.spark.read.format("delta").load(self._delta_dir())
        # mergeSchema: after schema evolution the fallback delta dir
        # holds files with and without the added columns; a plain read
        # would pick one footer's schema and silently drop the rest.
        return self.spark.read.option("mergeSchema", "true").parquet(self._delta_dir())

    def _writer(self, location: str):
        from m3d_engine_spark.sources.writers import AtomicWriter

        return AtomicWriter(
            self.spark,
            location,
            partition_columns=list(self.params.get_optional("target_partitions", [])),
            output_files_num=self.params.get_optional("output_partitions_num"),
        )

    def transform(self, dfs: list[DataFrame]) -> list[DataFrame]:
        p = self.params
        bk = p.get_list("business_key")
        # Reference key name is 'condensation_key'
        # (DeltaLakeLoadConfiguration.scala); 'technical_key' kept as the
        # short form shared with DeltaLoad.
        tk = p.get_optional("condensation_key") or p.get_list("technical_key")
        tk = [c.lower() for c in tk]
        bk = [c.lower() for c in bk]
        rm = p.get_optional("record_mode_column", "recordmode")
        targets = p.get_optional("target_partitions", [])
        # Lower-case all columns (DeltaLakeLoad.scala:36).
        new_data = dfs[0].select([F.col(c).alias(c.lower()) for c in dfs[0].columns])
        if targets and p.get_optional("partition_column"):
            from m3d_engine_spark.functions.dates import with_date_components

            new_data = with_date_components(
                new_data,
                p.get_string("partition_column"),
                p.get_string("partition_column_format"),
                targets,
            )

        delta_dir = self._delta_dir()
        if delta_dir is None:
            # Degenerate mode merges against the lake target, so "init"
            # means the LAKE doesn't exist yet — the reference applies
            # init-load condensation ordering only on true init loads
            # (DeltaLakeLoad.scala:84-87).
            target = p.get_optional("target_location")
            lake_exists = bool(target) and _dfs_has_files(self.spark, target)
            is_init = not lake_exists
        else:
            is_init = not self._delta_exists()
        # Affected partitions MUST come from the RAW new data, before
        # condensation (DeltaLakeLoad.scala:61,90): an unstable partition
        # key (a row whose partition value changed) surfaces its OLD
        # partition only via the old-image/delete records, and
        # condensation collapses those away — affected computed from the
        # condensed data would leave the old partition out of merge and
        # snapshot scope, stranding the stale row in delta dir and lake.
        if targets:
            new_data = tracked_checkpoint(new_data, self._checkpointed)
            self.affected = collect_partitions(new_data, targets)
        # Reference condensation dials
        # (DeltaLakeLoadConfiguration.scala:59-71):
        rtc = p.get_optional("records_to_condense")
        init_cond = bool(p.get_optional("init_condensation", True))
        init_rm = bool(p.get_optional("init_condensation_with_record_mode", True))
        if is_init and not init_cond:
            condensed = new_data  # DeltaLakeLoad.scala:84-88
        else:
            # pinned: a merge reads it twice (anti-join keys, upserts)
            condensed = tracked_checkpoint(
                condense(
                    new_data, bk, tk, record_mode_column=rm,
                    init_load=is_init and init_rm,
                    records_to_condense=rtc,
                ),
                self._checkpointed,
            )
        drop_cols = [c for c in tk if c in condensed.columns] + [rm]
        # affected_partitions_merge=False (DeltaLakeLoad.scala:270-281):
        # the partition columns join the merge key INSTEAD of the
        # affected-partitions predicate — the documented misconfiguration
        # for unstable partitions (old-partition rows are never matched,
        # so they survive as duplicates; golden-pinned both ways).
        apm = bool(p.get_optional("affected_partitions_merge", True))
        merge_keys = bk if apm else bk + [t for t in targets]
        _rtd_raw = p.get_optional("records_to_delete")
        rtd = tuple(_rtd_raw) if _rtd_raw is not None else DELETE_RECORD_MODES
        bk_op = str(p.get_optional("business_key_match_operator", "AND"))

        if delta_dir is None:
            # Degenerate single-output mode (no persistent delta table):
            # merge directly against the lake target.
            lake = self.spark.read.parquet(target) if lake_exists else None
            if lake is None:
                result = condensed if not rtd else condensed.filter(
                    F.col(rm).isNull() | ~F.col(rm).isin(*rtd)
                )
                result = result.drop(*drop_cols)
                return [result]
            if targets:
                lake = lake.filter(partition_predicate(self.affected))
            return [merge_delta(lake, condensed, merge_keys, record_mode_column=rm,
                                records_to_delete=rtd, match_operator=bk_op)]

        from m3d_engine_spark.sources.writers import LoadMode, repartitioned

        if is_init:
            # Init load (DeltaLakeLoad.scala:101-120): deletes dropped,
            # technical/recordmode columns projected away.
            init_df = condensed if not rtd else condensed.filter(
                F.col(rm).isNull() | ~F.col(rm).isin(*rtd)
            )
            init_df = init_df.drop(*drop_cols)
            if HAS_DELTA:
                # The init write must itself be format("delta") — a
                # parquet init would leave a table that never takes the
                # DeltaTable.merge path on subsequent runs.
                w = repartitioned(init_df, p.get_optional("output_partitions_num"), targets)
                writer = w.write.format("delta").mode("overwrite")
                if targets:
                    writer = writer.partitionBy(*targets)
                writer.save(delta_dir)
            else:
                self._writer(delta_dir).write(init_df, LoadMode.OVERWRITE_TABLE)
        elif self._is_real_delta():
            merge_into_delta(
                self.spark, delta_dir, condensed, merge_keys,
                record_mode_column=rm,
                affected_partitions=self.affected if apm else None,
                records_to_delete=rtd, match_operator=bk_op,
            )
            if p.get_optional("is_to_vacuum", True):
                DeltaTable.forPath(self.spark, delta_dir).vacuum(
                    float(p.get_optional("vacuum_retention_period", 12))
                )
        else:
            # Fallback merge: rewrite only the affected partitions of the
            # parquet delta dir with survivors ∪ upserts. Schema
            # evolution mirrors delta's autoMerge
            # (DeltaLakeLoadConfiguration.scala:145): columns the delta
            # brings that the table lacks are appended, existing rows
            # padded with typed NULLs.
            from pyspark.sql.types import StructType

            existing = self._read_delta()
            scoped = (
                existing.filter(partition_predicate(self.affected))
                if targets
                else existing
            )
            skip = {c.lower() for c in drop_cols}
            present = {f.name.lower() for f in existing.schema.fields}
            added = [
                f for f in condensed.schema.fields
                if f.name.lower() not in present and f.name.lower() not in skip
            ]
            if added:
                evolved = StructType(list(existing.schema.fields) + added)
                from m3d_engine_spark.plans.partitions import add_missing_columns

                scoped = add_missing_columns(scoped, evolved)
            # Removed columns (Delta updateAll semantics): a column the
            # new batch no longer carries keeps its CURRENT value on
            # matched rows — NULL only for true inserts. Pull the
            # current values onto the upserts by merge key.
            cond_cols = {c.lower() for c in condensed.columns}
            carried = [
                f.name for f in existing.schema.fields
                if f.name.lower() not in cond_cols and f.name.lower() not in skip
            ]
            if carried:
                condensed = condensed.join(
                    scoped.select(*merge_keys, *carried),
                    on=merge_keys,
                    how="left",
                )
            merged = merge_delta(scoped, condensed, merge_keys, record_mode_column=rm,
                                 records_to_delete=rtd, match_operator=bk_op)
            # Plain OverwritePartitions: schema evolution was applied
            # explicitly above; ...WithAddedColumns would pad the merged
            # result back DOWN to the pre-evolution on-disk schema.
            mode = (
                LoadMode.OVERWRITE_PARTITIONS if targets else LoadMode.OVERWRITE_TABLE
            )
            self._writer(delta_dir).write(merged, mode)

        if p.get_optional("compact_table", False):
            self._compact(delta_dir, targets)

        # Snapshot the affected partitions of the merged delta table for
        # the lake write (DeltaLakeLoad.scala:45-48).
        snapshot = self._read_delta()
        if targets and self.affected and not is_init:
            snapshot = snapshot.filter(partition_predicate(self.affected))
        return [snapshot]

    def _compact(self, delta_dir: str, targets: list) -> None:
        """Small-file compaction (DeltaLakeLoad.scala:318-352): rewrite
        the affected partitions in ``writers.repartitioned``'s layout
        (one file per partition dir). Real Delta uses dataChange=false +
        replaceWhere; the parquet fallback rewrites the same partition
        directories atomically — same file-count outcome, minus the
        no-op-for-streams marker."""
        from m3d_engine_spark.plans.partitions import partition_where_sql
        from m3d_engine_spark.sources.writers import LoadMode, repartitioned

        df = self._read_delta()
        if targets and self.affected:
            df = df.filter(partition_predicate(self.affected))
        n = self.params.get_optional("output_partitions_num")
        if self._is_real_delta():
            w = repartitioned(df, n, targets)
            writer = w.write.format("delta").mode("overwrite").option("dataChange", "false")
            if targets and self.affected:
                writer = writer.option(
                    "replaceWhere", partition_where_sql(self.affected)
                )
            writer.save(delta_dir)
            return
        mode = (
            LoadMode.OVERWRITE_PARTITIONS
            if targets and self.affected
            else LoadMode.OVERWRITE_TABLE
        )
        self._writer(delta_dir).write(df, mode)

    def write(self, dfs: list[DataFrame]) -> None:
        from m3d_engine_spark.config import ConfigError
        from m3d_engine_spark.sources.writers import write_output

        if self.params.get_optional("target_partitions"):
            # Same trap as DeltaLoad: the merge result is scoped to
            # affected partitions — never whole-table overwrite it.
            if self.params.get_optional("load_mode") == "OverwriteTable":
                raise ConfigError(
                    "DeltaLakeLoad with target_partitions produces a "
                    "partition-scoped result; load_mode=OverwriteTable "
                    "would delete unaffected partitions."
                )
            # Plain OverwritePartitions (not ...WithAddedColumns): the
            # snapshot comes from the schema-evolved delta table, which
            # IS the source of truth — padding it down to the lake's
            # old on-disk schema would strip freshly added columns.
            write_output(
                self.spark, dfs[0], self.params,
                default_load_mode="OverwritePartitions",
            )
        else:
            write_output(self.spark, dfs[0], self.params)


def _dfs_has_files(spark: SparkSession, path: str) -> bool:
    from m3d_engine_spark.sources.dfs import DFS

    dfs = DFS(spark)
    return dfs.exists(path) and bool(dfs.list_files(path))
