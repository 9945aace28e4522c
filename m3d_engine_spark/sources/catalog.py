"""Catalog / metastore operations.

Reference parity: util/CatalogTableManager.scala,
util/RecoverPartitions{Native,Custom}.scala, algo/core/TableStatistics.scala
(SURVEY.md §2.12). All operations are plain Spark SQL so they work
against Hive metastore and the in-memory catalog alike.
"""

from __future__ import annotations

from typing import Any, Sequence

from pyspark.sql import SparkSession
from pyspark.sql.types import StructType


def table_location(spark: SparkSession, table: str) -> str | None:
    """DESCRIBE FORMATTED → Location (CatalogTableManager.scala:18-40)."""
    for row in spark.sql(f"DESCRIBE FORMATTED {table}").collect():
        if (row.col_name or "").strip().lower() == "location":
            return row.data_type.strip()
    return None


def table_schema(spark: SparkSession, table: str, drop_columns: Sequence[str] = ()) -> StructType:
    """Target schema from the catalog, optionally dropping derived
    partition columns (CatalogTableManager.scala:118-158)."""
    schema = spark.table(table).schema
    drop = {c.lower() for c in drop_columns}
    return StructType([f for f in schema.fields if f.name.lower() not in drop])


def recreate_table_at_location(
    spark: SparkSession,
    table: str,
    location: str,
    partition_columns: Sequence[str] = (),
    schema: StructType | None = None,
) -> None:
    """Re-point a table at a new data directory, preserving the schema —
    the FullLoad swap (CatalogTableManager.scala:87-99). Uses DROP +
    CREATE ... USING PARQUET LOCATION, then partition recovery.

    Pass ``schema`` explicitly on restore paths: after a failed swap the
    table may already be dropped, so reading the schema from the catalog
    here would throw and leave no table at all."""
    if schema is None:
        schema = spark.table(table).schema
    ddl = ", ".join(f"`{f.name}` {f.dataType.simpleString()}" for f in schema.fields)
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    part = ""
    if partition_columns:
        part = " PARTITIONED BY (" + ", ".join(f"`{c}`" for c in partition_columns) + ")"
    spark.sql(f"CREATE TABLE {table} ({ddl}) USING PARQUET{part} LOCATION '{location}'")
    if partition_columns:
        recover_partitions_native(spark, table)


def swap_table_location(
    spark: SparkSession,
    table: str,
    location: str,
    previous: str | None,
    partition_columns: Sequence[str] = (),
) -> None:
    """Re-point ``table`` at ``location``; if that fails, re-point it at
    ``previous`` (when given) and re-raise, so a failed swap never loses
    the table (FullLoad.scala:60-70). The schema is captured before the
    DROP. The caller deletes its own new dir."""
    schema = spark.table(table).schema
    try:
        recreate_table_at_location(spark, table, location, partition_columns, schema)
    except Exception:
        if previous:
            recreate_table_at_location(spark, table, previous, partition_columns, schema)
        raise


def recover_partitions_native(spark: SparkSession, table: str) -> None:
    """MSCK-equivalent (util/RecoverPartitionsNative.scala:11-13)."""
    spark.catalog.recoverPartitions(table)


def partition_spec_value(v: Any) -> str:
    """One HiveQL partition-spec literal
    (RecoverPartitionsCustom.scala createParameterValue, unit-pinned by
    RecoverPartitionsCustomTest): strings quote, numbers stay bare.
    Two deliberate divergences from the reference's value domain, both
    because this builder is fed DATA-DERIVED values via
    collect_partitions (not just params): NULL maps to the addressable
    ``'__HIVE_DEFAULT_PARTITION__'`` spec instead of throwing (this
    engine's writers legitimately produce NULL partitions — r9/r10
    canonicalization chain), and booleans render as bare true/false
    (a boolean-partitioned table must be registrable; the reference's
    'not supported Value' throw would fail the metadata update AFTER
    the data was already written). Params-level typo protection lives
    in the dial validators, not here."""
    from m3d_engine_spark.plans.partitions import sql_literal

    if v is None:
        return "'__HIVE_DEFAULT_PARTITION__'"
    return sql_literal(v)


def generate_add_partition_statements(
    table: str, criteria: Sequence[Sequence[tuple[str, Any]]]
) -> list[str]:
    """Typed ADD PARTITION statements for the given criteria — the body
    of the custom recovery strategy
    (util/RecoverPartitionsCustom.scala:19-31); pure, so the reference's
    statement-generation unit contract pins it directly."""
    return [
        f"ALTER TABLE {table} ADD IF NOT EXISTS PARTITION("
        + ", ".join(f"{c}={partition_spec_value(v)}" for c, v in crit)
        + ")"
        for crit in criteria
    ]


def add_partitions(
    spark: SparkSession, table: str, criteria: Sequence[Sequence[tuple[str, Any]]]
) -> list[str]:
    """Generate and execute the custom-recovery ADD PARTITION statements."""
    stmts = generate_add_partition_statements(table, criteria)
    for s in stmts:
        spark.sql(s)
    return stmts


def update_partition_metadata(
    spark: SparkSession,
    table: str,
    strategy: str | None,
    affected: Sequence[Sequence[tuple[str, Any]]] | None = None,
) -> None:
    """Route the ``metadata_update_strategy`` param the way the
    reference's shared trait does
    (config/shared/MetadataUpdateStrategy.scala:8-19): Native (MSCK)
    when unset or 'SparkRecoverPartitionsNative',
    'SparkRecoverPartitionsCustom' → typed ADD PARTITION from the
    load's affected criteria, anything else is a config error."""
    if strategy is None or strategy == "SparkRecoverPartitionsNative":
        recover_partitions_native(spark, table)
        return
    if strategy == "SparkRecoverPartitionsCustom":
        add_partitions(spark, table, affected or [])
        return
    from m3d_engine_spark.config import ConfigError

    raise ConfigError(f"unsupported metadata_update_strategy {strategy!r}")


def _unescape_hive_partition_value(v: str) -> str | None:
    """Reverse Hive's path escaping: ``%XX`` hex escapes back to their
    characters, ``__HIVE_DEFAULT_PARTITION__`` back to NULL. SHOW
    PARTITIONS returns path-escaped values; feeding them verbatim into
    ANALYZE/ALTER produces wrong partition specs."""
    if v == "__HIVE_DEFAULT_PARTITION__":
        return None
    from urllib.parse import unquote

    return unquote(v)


def list_table_partitions(spark: SparkSession, table: str) -> list[list[tuple[str, str | None]]]:
    """SHOW PARTITIONS → criteria lists with UNESCAPED values (NULL
    partitions come back as None). Empty for unpartitioned tables.

    Only the SHOW-PARTITIONS-on-an-unpartitioned-table condition
    (INVALID_PARTITION_OPERATION.*, probed on Spark 4.1) maps to [];
    everything else — TABLE_OR_VIEW_NOT_FOUND, transient metastore or
    storage errors — propagates, so callers like per-partition ANALYZE
    fail loudly instead of silently treating a missing table as an
    unpartitioned one (the streaming state-read rule)."""
    from pyspark.errors import AnalysisException

    from m3d_engine_spark.errors import error_condition

    try:
        rows = spark.sql(f"SHOW PARTITIONS {table}").collect()
    except AnalysisException as e:
        if error_condition(e).startswith("INVALID_PARTITION_OPERATION"):
            return []
        raise
    out = []
    for row in rows:
        crit = []
        for part in row[0].split("/"):
            c, _, v = part.partition("=")
            crit.append((c, _unescape_hive_partition_value(v)))
        out.append(crit)
    return out


def compute_statistics(
    spark: SparkSession, table: str, partition_specs: Sequence[Sequence[tuple[str, Any]]] = ()
) -> None:
    """ANALYZE TABLE (+ per affected partition) — keeps CBO stats fresh
    after loads (algo/core/TableStatistics.scala:22-80).

    Pass the LOAD's affected-partition criteria (raw values from
    ``collect_partitions``), not a full SHOW PARTITIONS listing — the
    reference analyzes only touched partitions, keeping this
    O(affected) driver SQL, not O(table). Values go through the shared
    ``sql_literal`` escaping. Specs containing NULL are skipped:
    ``__HIVE_DEFAULT_PARTITION__`` cannot be addressed by an ANALYZE
    partition spec (the table-level ANALYZE still covers its rows)."""
    from m3d_engine_spark.plans.partitions import sql_literal

    for crit in partition_specs:
        if any(v is None for _, v in crit):
            continue
        spec = ", ".join(f"`{c}`={sql_literal(v)}" for c, v in crit)
        spark.sql(f"ANALYZE TABLE {table} PARTITION({spec}) COMPUTE STATISTICS")
    spark.sql(f"ANALYZE TABLE {table} COMPUTE STATISTICS")


def truncate_table(spark: SparkSession, table: str) -> None:
    """TRUNCATE TABLE — the reference's pre-overwrite cleanup for
    non-partitioned full writes (util/OutputWriter.scala:274-277)."""
    spark.sql(f"TRUNCATE TABLE {table}")


def refresh_table(spark: SparkSession, table: str) -> None:
    """Invalidate cached file listings/metadata after an out-of-band
    data change (algo/core/Metadata.scala:14-15)."""
    spark.catalog.refreshTable(table)


def set_partition_location(
    spark: SparkSession,
    table: str,
    partition_criteria: Sequence[tuple[str, Any]],
    location: str,
) -> None:
    """Re-point a single partition at a new directory
    (util/CatalogTableManager.scala:57-66)."""
    from m3d_engine_spark.plans.partitions import sql_literal

    spec = ", ".join(f"`{c}`={sql_literal(v)}" for c, v in partition_criteria)
    spark.sql(f"ALTER TABLE {table} PARTITION({spec}) SET LOCATION '{location}'")


def drop_all_table_partitions(spark: SparkSession, table: str) -> int:
    """Drop every partition registered for the table
    (util/CatalogTableManager.scala:70-76). Returns the count dropped.
    Data files are left in place (external-table semantics) — the
    reference uses this before re-pointing a table wholesale."""
    from m3d_engine_spark.plans.partitions import sql_literal

    dropped = 0
    for crit in list_table_partitions(spark, table):
        parts = []
        for c, v in crit:
            lit = "'__HIVE_DEFAULT_PARTITION__'" if v is None else sql_literal(v)
            parts.append(f"`{c}`={lit}")
        spark.sql(
            f"ALTER TABLE {table} DROP IF EXISTS PARTITION({', '.join(parts)})"
        )
        dropped += 1
    return dropped
