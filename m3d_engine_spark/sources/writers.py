"""Output writing: load modes + atomic write protocol.

Reference parity: util/OutputWriter.scala + util/LoadMode.scala —
five load modes:

* ``OverwriteTable``        — replace the whole target (OutputWriter.scala:120-122,148)
* ``OverwritePartitions``   — replace only the affected partitions
                              (:149-150,230-261)
* ``OverwritePartitionsWithAddedColumns`` — as above, padding the new
                              data to the on-disk schema first (:151-161)
* ``AppendJoinPartitions``  — FULL OUTER JOIN new vs existing rows of the
                              affected partitions, rewrite them (:162-176)
* ``AppendUnionPartitions`` — UNION new + existing rows, rewrite (:177-190)

Every mode commits through ONE protocol (OutputWriter.scala:96-262)
over a list of units: the affected partitions, or the whole target as
one unit (criterion ``[]``) for ``OverwriteTable`` and for any mode on
a non-partitioned target. An absent target is written directly;
otherwise: write ``<target>__tmp_<12 hex>``, then per unit rename the
live dir into ``<target>__bak_<12 hex>`` and the new one into place,
then delete the backup. A failure restores the moved units, removes
newly created ones and deletes the backup once every unit is back; the
temp dir is deleted on every exit. The live target is never
overwritten in place, so a frame that reads it stays valid.
``operators.suffix._recover_swap_litter`` relies on these names and
this order.

Scale notes: affected-partition discovery is a distinct+collect on the
partition columns only; existing-partition reads are scoped with a
Catalyst Column predicate (partition-pruned scan), unlike the
reference's row-lambda filter which scanned the whole table (SURVEY §4).
``output_files_num`` sets the file count of non-partitioned and spread
writes only. A partitioned write is hashed on its partition columns:
one file per partition dir, with AQE choosing the number of write tasks
from the data, at most ``spark.sql.shuffle.partitions``
(``repartitioned``).
"""

from __future__ import annotations

import logging
import uuid
from dataclasses import dataclass, field
from enum import Enum
from typing import Any, Sequence

from pyspark.sql import DataFrame, SparkSession

from m3d_engine_spark.operators.base import tracked_checkpoint, unpersist_checkpoints
from m3d_engine_spark.plans.partitions import (
    add_missing_columns,
    collect_partitions,
    partition_predicate,
)
from m3d_engine_spark.sources.dfs import DFS

logger = logging.getLogger(__name__)

# The exception classes a metastore/catalog operation can legitimately
# fail with. PySparkException is the base of EVERY engine error the
# capture layer converts (AnalysisException, QueryExecutionException,
# SparkRuntimeException, the ANSI cast errors a
# '__HIVE_DEFAULT_PARTITION__' sentinel can raise on non-string
# partition columns, UnknownException...) — narrowing to
# AnalysisException alone would re-raise real metastore failures AFTER
# the insert committed, marking a committed load failed and inviting a
# duplicating retry. Py4JError covers raw JVM throws that bypass the
# converter. Python-side programming errors (TypeError, closed-session
# AttributeError, ...) are outside both and still raise — the intent of
# the narrowed catch.
try:  # py4j only exists under classic (non-Connect) PySpark
    from py4j.protocol import Py4JError as _Py4JError
except ImportError:  # pragma: no cover - Connect-only environments
    class _Py4JError(Exception):
        ...

from pyspark.errors import PySparkException

_METASTORE_ERRORS = (PySparkException, _Py4JError)


class LoadMode(Enum):
    OVERWRITE_TABLE = "OverwriteTable"
    OVERWRITE_PARTITIONS = "OverwritePartitions"
    OVERWRITE_PARTITIONS_WITH_ADDED_COLUMNS = "OverwritePartitionsWithAddedColumns"
    APPEND_JOIN_PARTITIONS = "AppendJoinPartitions"
    APPEND_UNION_PARTITIONS = "AppendUnionPartitions"


# Characters Hive/Spark escape in partition directory names
# (Hive FileUtils.charToEscape / Spark ExternalCatalogUtils.escapePathName):
# ASCII control chars plus the set below, as %XX uppercase hex.
_PATH_ESCAPE_CHARS = set('"#%\'*/:=?\\{[]^\x7f') | {chr(i) for i in range(0x20)}

HIVE_DEFAULT_PARTITION = "__HIVE_DEFAULT_PARTITION__"


def escape_path_name(value: str) -> str:
    """Hive partition-path escaping — must match what Spark's writer
    produced on disk, or the rename-based commit targets a nonexistent
    directory."""
    return "".join(
        f"%{ord(ch):02X}" if ch in _PATH_ESCAPE_CHARS else ch for ch in value
    )


def partition_rel_path(criteria: Sequence[tuple[str, Any]]) -> str:
    """[(year,2016),(month,6)] → 'year=2016/month=6' (Hive layout,
    util/DataFrameUtils.scala:15-16). NULL partition values map to
    __HIVE_DEFAULT_PARTITION__ and special characters are %XX-escaped,
    mirroring how Spark names the directories it writes."""
    parts = []
    for c, v in criteria:
        if v is None or v == "":
            # Spark writes BOTH NULL and empty-string partition values
            # as __HIVE_DEFAULT_PARTITION__; rendering '' as 'col='
            # makes the tmp->final rename target a nonexistent path
            # (verified: FileNotFoundException mid-commit, or silent
            # row loss on filesystems where rename returns false)
            parts.append(f"{c}={HIVE_DEFAULT_PARTITION}")
        else:
            s = ("true" if v else "false") if isinstance(v, bool) else str(v)
            parts.append(f"{c}={escape_path_name(s)}")
    return "/".join(parts)


def _rename_or_raise(dfs: DFS, src: str, dst: str) -> None:
    """Commit-step rename: HDFS/S3A FileSystem.rename reports missing
    source / existing destination / permission failures by returning
    FALSE, not by throwing — treating that as success would let the
    protocol delete the only backup of a partition it never moved."""
    if not dfs.rename(src, dst):
        raise IOError(f"commit rename failed: {src} -> {dst}")


def _join(root: str, rel: str) -> str:
    """``root/rel``; the empty rel path (criterion ``[]``) names ``root``
    itself — the whole-target unit of the commit."""
    return f"{root}/{rel}" if rel else root


def repartitioned(
    df: DataFrame, n: int | None, partition_columns: Sequence[str], spread: bool = False
) -> DataFrame:
    """The output-file layout of every engine write. ``n`` sets the
    file count of two forms only: a non-partitioned write gets ``n``
    files, and ``spread``, the reference's round-robin form
    (numberOutputPartitions), up to ``n`` files in every dir. Any other
    partitioned write hashes its rows on the partition columns, so each
    partition dir gets exactly one file whatever ``n`` is. That
    exchange carries no count: AQE coalesces it to a task count sized
    by the data, capped by ``spark.sql.shuffle.partitions`` like every
    keyed exchange. (A fixed count would only add write tasks, each
    paying a task deserialization and a 16 MB sort page for a few
    dirs' rows.) No ``n``: the frame is left as is."""
    if not n:
        return df
    if spread or not partition_columns:
        return df.repartition(n)
    return df.repartition(*partition_columns)


def _canonical_criteria(affected: list) -> list:
    """One criterion per on-disk directory. NULL and '' partition
    values share one directory (__HIVE_DEFAULT_PARTITION__): criteria
    carrying both would back up the same dir twice and abort on the
    second rename. '' is canonicalized to None FIRST (mirrors
    collect_partitions) so the result never leaks a ('col','')
    criterion into downstream ADD PARTITION / ANALYZE specs when the ''
    variant happens to come first."""
    by_rel: dict[str, Any] = {}
    for crit in affected:
        crit = [(c, None if v == "" else v) for c, v in crit]
        by_rel.setdefault(partition_rel_path(crit), crit)
    return list(by_rel.values())


@dataclass
class AtomicWriter:
    """Partitioned parquet writer with backup/restore semantics."""

    spark: SparkSession
    target_location: str
    partition_columns: list[str] = field(default_factory=list)
    format: str = "parquet"
    output_files_num: int | None = None
    # The reference's round-robin file-count semantics (see
    # ``repartitioned``); off by default.
    spread_output_files: bool = False
    # Partition criteria the last write() touched, collected while the
    # frame was pinned — callers needing the ANALYZE scope reuse this
    # instead of re-scanning the source (None for whole-target writes).
    last_affected: list | None = None

    def _dfs(self) -> DFS:
        return DFS(self.spark)

    def _write_dir(self, df: DataFrame, path: str) -> None:
        w = repartitioned(
            df, self.output_files_num, self.partition_columns, self.spread_output_files
        ).write.format(self.format).mode("overwrite")
        if self.partition_columns:
            w = w.partitionBy(*self.partition_columns)
        w.save(path)

    # ------------------------------------------------------------- modes
    def write(
        self, df: DataFrame, load_mode: LoadMode, affected: list | None = None
    ) -> None:
        """``affected`` (overwrite modes only): criteria the LOAD
        touched, which may be a superset of the frame's own partitions —
        a CDC delta that deletes every row of a partition yields zero
        output rows there, and deriving criteria from the frame alone
        would leave the emptied partition's old directory untouched
        (its deletions silently never applied)."""
        if load_mode is LoadMode.OVERWRITE_PARTITIONS_WITH_ADDED_COLUMNS:
            existing_schema = self._existing_schema()
            if existing_schema is not None:
                df = add_missing_columns(df, existing_schema)
        if load_mode is LoadMode.APPEND_JOIN_PARTITIONS:
            df, affected = self._combine_with_existing(df, how="join")
        elif load_mode is LoadMode.APPEND_UNION_PARTITIONS:
            df, affected = self._combine_with_existing(df, how="union")
        if load_mode is LoadMode.OVERWRITE_TABLE or not self.partition_columns:
            self._commit(df, [[]])
            return
        if affected is not None:
            self.last_affected = _canonical_criteria(affected)
            self._commit(df, self.last_affected)
            return
        # The frame feeds two jobs (partition discovery, then the
        # write): pin it so the source is computed once.
        df = tracked_checkpoint(df, None)
        try:
            self.last_affected = _canonical_criteria(
                collect_partitions(df, self.partition_columns)
            )
            self._commit(df, self.last_affected)
        finally:
            unpersist_checkpoints([df])

    def _existing_schema(self):
        """On-disk schema from ONE data-file footer plus the partition
        columns (which live in directory names, not footers). A full
        ``spark.read.load(dir)`` here would list + schema-merge every
        file under the target — a driver-side listing storm at millions
        of files; one footer carries the same information."""
        dfs = self._dfs()
        if not dfs.exists(self.target_location):
            return None
        first = dfs.first_file(self.target_location)
        if first is None:
            return None
        from pyspark.sql.types import StructType

        file_schema = self.spark.read.format(self.format).load(first).schema
        fields = list(file_schema.fields)
        present = {f.name.lower() for f in fields}
        for pc in self.partition_columns:
            if pc.lower() not in present:
                # Partition column type is not in the footer; IntegerType
                # matches the derived year/month/day/week partitions and
                # the padding consumer casts anyway.
                from pyspark.sql.types import IntegerType, StructField

                fields.append(StructField(pc, IntegerType()))
        return StructType(fields)

    def _existing_rows_in(self, criteria) -> DataFrame | None:
        if self._existing_schema() is None:
            return None
        return (
            self.spark.read.format(self.format)
            .load(self.target_location)
            .filter(partition_predicate(criteria))
        )

    def _combine_with_existing(self, df: DataFrame, how: str):
        """Returns (combined, affected): the append criteria are
        collected ONCE from the new batch and handed to the write —
        re-deriving them from the combined frame would re-scan the
        landing data (the existing side is already scoped to exactly
        these criteria, so the sets are identical)."""
        if not self.partition_columns:
            raise ValueError("append modes require partition columns")
        affected = collect_partitions(df, self.partition_columns)
        existing = self._existing_rows_in(affected)
        if existing is None:
            return df, affected
        if how == "union":
            # Reference: OutputWriter.scala:177-190 (positional union
            # there; unionByName here + typed-null padding BOTH WAYS for
            # evolved schemas — padding only the existing side to the
            # new batch's columns would silently PRUNE columns that
            # exist on disk but are missing from the batch, destroying
            # their data in every rewritten partition).
            merged = list(df.schema.fields)
            have = {f.name.lower() for f in merged}
            merged += [
                f for f in existing.schema.fields
                if f.name.lower() not in have
            ]
            from pyspark.sql.types import StructType

            target = StructType(merged)
            return (
                add_missing_columns(df, target).unionByName(
                    add_missing_columns(existing, target)
                ),
                affected,
            )
        shared = [c for c in df.columns if c in existing.columns]
        return existing.join(df, on=shared, how="full_outer"), affected

    def _commit(self, df: DataFrame, criteria: list) -> None:
        """The module-docstring protocol over ``criteria`` (``[[]]``:
        the whole target). A criterion the frame has no rows for is
        backed up and not replaced, i.e. deleted. Every rename is
        CHECKED (_rename_or_raise); the restore also removes units
        newly CREATED before the failure, or a retry would union the
        landing data with its own half-committed copy. The restore is
        checked by listing the backup afterwards: it is deleted only
        when it holds no files, else it stays and an IOError (or, for an
        interrupt, a note on it) names the units it still holds."""
        dfs = self._dfs()
        base = self.target_location.rstrip("/")
        if not dfs.exists(base):
            self._write_dir(df, base)
            return
        tmp = f"{base}__tmp_{uuid.uuid4().hex[:12]}"
        backup = f"{base}__bak_{uuid.uuid4().hex[:12]}"
        moved: list[tuple[str, str]] = []  # (final, backup) pairs
        created: list[str] = []  # moved in with no prior dir
        try:
            self._write_dir(df, tmp)
            for crit in criteria:
                rel = partition_rel_path(crit)
                final_dir, bak_dir, new_dir = (
                    _join(root, rel) for root in (base, backup, tmp)
                )
                had_prior = dfs.exists(final_dir)
                if had_prior:
                    _rename_or_raise(dfs, final_dir, bak_dir)
                    moved.append((final_dir, bak_dir))
                if dfs.exists(new_dir):
                    _rename_or_raise(dfs, new_dir, final_dir)
                    if not had_prior:
                        created.append(final_dir)
        except BaseException as exc:
            # Restore: put backups back (OutputWriter.scala:230-261).
            # BaseException: an interrupt mid-rename must restore too,
            # or the finally below leaves the old data only in backup.
            for final_dir in created:
                dfs.delete(final_dir)
            for final_dir, bak_dir in moved:
                dfs.delete(final_dir)
                dfs.rename(bak_dir, final_dir)
            # Not `moved` but the backup's own listing decides: a unit
            # can reach it unrecorded (a rename that finished in the JVM
            # before an interrupt, or a copy-based rename that raised
            # part way), and a failed restore rename leaves files too.
            kept = sorted(
                {f.rsplit("/", 1)[0] for f in dfs.list_files(backup)}
            )
            if kept:
                # the backup may now be the only copy of these units
                msg = (
                    f"commit restore failed; old data kept in {backup}: "
                    + ", ".join(kept)
                )
                if not isinstance(exc, Exception):
                    exc.add_note(msg)  # an interrupt stays an interrupt
                    raise
                raise IOError(msg) from exc
            dfs.delete(backup)
            raise
        finally:
            dfs.delete(tmp)
        dfs.delete(backup)


def write_output(
    spark: SparkSession,
    df: DataFrame,
    params,
    default_load_mode: str | None = None,
    affected: list | None = None,
) -> list[str] | None:
    """Generic sink used by the simple algorithms: target_table →
    saveAsTable / partition-scoped insertInto, target_location →
    (atomic) file write.

    Returns the partition specs whose post-commit DROP PARTITION
    cleanup failed (stale rows stay queryable until the caller retries
    the drop), or None when nothing failed — the common case, so
    callers that ignore the return keep their semantics.

    ``default_load_mode`` lets an algorithm that partition-scoped its
    result (DeltaLoad & co.) force a partition-respecting default so an
    omitted ``load_mode`` can never whole-table-overwrite a
    partition-scoped DataFrame (the reference hardwires
    OverwritePartitionsWithAddedColumns there,
    DeltaLoadConfiguration.scala:74-80).
    """
    partition_cols = params.get_optional("target_partitions", [])
    n_files = params.get_optional("output_files_num")
    mode_name = params.get_optional("load_mode", default_load_mode or "OverwriteTable")
    load_mode = LoadMode(mode_name)
    if params.has("target_table"):
        table = params.get_string("target_table")
        w = repartitioned(df, n_files, partition_cols)
        if (
            partition_cols
            and load_mode is not LoadMode.OVERWRITE_TABLE
            and spark.catalog.tableExists(table)
        ):
            # Partition-scoped table write: align columns to the table
            # schema (insertInto is positional) and let dynamic
            # partition-overwrite replace only the partitions present
            # in df — never the whole table.
            target_schema = spark.table(table).schema
            aligned = add_missing_columns(w, target_schema)
            overwrite = load_mode is not LoadMode.APPEND_UNION_PARTITIONS
            if load_mode is LoadMode.APPEND_JOIN_PARTITIONS:
                affected = collect_partitions(w, partition_cols)
                existing = spark.table(table).filter(partition_predicate(affected))
                shared = [c for c in aligned.columns if c in existing.columns]
                aligned = add_missing_columns(
                    existing.join(aligned, on=shared, how="full_outer"), target_schema
                )
            # The partition-scoped contract DEPENDS on dynamic
            # partition-overwrite: under 'static' (Spark's default when
            # the session builder didn't set it), INSERT OVERWRITE with
            # no partition spec truncates EVERY partition of the table.
            # Force it for this write, restore the caller's setting.
            conf_key = "spark.sql.sources.partitionOverwriteMode"
            prev = spark.conf.get(conf_key, None)
            spark.conf.set(conf_key, "dynamic")
            try:
                aligned.write.insertInto(table, overwrite=overwrite)
            finally:
                if prev is None:
                    spark.conf.unset(conf_key)
                else:
                    spark.conf.set(conf_key, prev)
            failed_drops: list[str] = []
            # AppendJoin collected `affected` from `w` itself: every
            # criterion is present, so there is nothing to drop and no
            # reason to scan `w` again.
            if affected and overwrite and load_mode is not LoadMode.APPEND_JOIN_PARTITIONS:
                # dynamic overwrite replaces only partitions PRESENT in
                # the frame: a partition the load emptied entirely (all
                # rows deleted by the CDC) must be dropped explicitly or
                # its stale rows survive
                from m3d_engine_spark.plans.partitions import sql_literal

                present = {
                    tuple(crit) for crit in collect_partitions(w, partition_cols)
                }
                # Canonicalize caller-supplied criteria the same way
                # collect_partitions does ('' -> None, both name the
                # default partition) and dedupe: an un-canonicalized
                # ('c','') would miss `present` and then feed DROP
                # PARTITION(c='') — an AnalysisException AFTER the
                # insert already committed.
                for crit in map(tuple, _canonical_criteria(affected)):
                    if crit in present:
                        continue
                    # A NULL (Hive default) partition value has no SQL
                    # literal spec — `c=NULL` never matches — but the
                    # metastore stores it as the sentinel string, which
                    # DROP PARTITION accepts (verified on datasource
                    # tables): emptied NULL partitions must drop too or
                    # their stale rows survive the CDC delete.
                    spec = ", ".join(
                        f"`{c}`=" + (
                            f"'{HIVE_DEFAULT_PARTITION}'" if v is None
                            else sql_literal(v)
                        )
                        for c, v in crit
                    )
                    try:
                        spark.sql(
                            f"ALTER TABLE {table} "
                            f"DROP IF EXISTS PARTITION({spec})"
                        )
                    except _METASTORE_ERRORS as exc:
                        # The insert already committed; a metastore
                        # cleanup failure (partition-spec value
                        # resolution varies per catalog/ANSI setting,
                        # esp. the NULL sentinel on non-string
                        # partition columns) must not fail the load —
                        # raising here would mark a committed load
                        # failed and a blind retry would re-insert.
                        # Only the metastore error classes are caught;
                        # programming errors (typos, closed session)
                        # still raise. NOTE the consequence is real:
                        # the emptied partition's OLD ROWS stay
                        # queryable until the DROP is repeated, so the
                        # warning + returned spec are the operator's
                        # signal to re-run the drop (or MSCK) out of
                        # band.
                        failed_drops.append(spec)
                        logger.warning(
                            "write_output: post-commit DROP "
                            "PARTITION(%s) on %s failed — stale rows "
                            "remain queryable until the drop is "
                            "retried: %s",
                            spec, table, exc,
                        )
            return failed_drops or None
        writer = w.write.mode(str(params.get_optional("save_mode", "overwrite")))
        if partition_cols:
            writer = writer.partitionBy(*partition_cols)
        writer.saveAsTable(table)
        return
    writer = AtomicWriter(
        spark,
        params.get_string("target_location"),
        partition_columns=list(partition_cols),
        output_files_num=n_files,
    )
    writer.write(df, load_mode, affected=affected)
