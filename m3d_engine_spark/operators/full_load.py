"""Full-swap reload (FullLoad).

Reference parity: algo/loads/FullLoad.scala — read the landing
directory, derive date partition columns, write Parquet to a NEW
timestamped directory, re-point the table at it, delete the old
directory; on failure restore the previous location
(FullLoad.scala:24-76). Readers default to FAILFAST
(FullLoadConfiguration.scala:85) and empty-string→null is disabled via a
sentinel nullValue (:81-83).

Swap-based full loads are the right shape at scale: the new version is
written with full parallelism while readers keep using the old
directory; the only serialized step is the metadata re-point.
"""

from __future__ import annotations

import re as _re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from m3d_engine_spark.config import ParamsFile
from m3d_engine_spark.functions.dates import with_date_components
from m3d_engine_spark.operators.base import Algorithm, register
from m3d_engine_spark.plans.partitions import enforce_schema
from m3d_engine_spark.sources.dfs import DFS, next_version_dir
from m3d_engine_spark.sources.formats import format_from_params
from m3d_engine_spark.sources import catalog as cat
from m3d_engine_spark.sources.writers import AtomicWriter, LoadMode, repartitioned

NULL_SENTINEL = "XXNULLXXX"  # FullLoadConfiguration.scala:81-83


@register("FullLoad")
class FullLoad(Algorithm):
    """Config: source_dir, file_format(+reader options), target_table OR
    target_location(+target_dir base for versions), target_partitions,
    partition_column, partition_column_format, output_files_num,
    target_schema (Spark JSON, optional when target_table exists)."""

    def __init__(self, spark: SparkSession, params: ParamsFile):
        super().__init__(spark, params)
        self.dfs = DFS(spark)
        self.partition_targets: list[str] = params.get_optional("target_partitions", [])
        self.table: str | None = params.get_optional("target_table")
        self.previous_location: str | None = None
        self.next_location: str | None = None

    def prepare(self) -> None:
        if self.table:
            self.previous_location = cat.table_location(self.spark, self.table)
            root = (
                self.previous_location.rsplit("/", 1)[0]
                if self.previous_location
                else None
            )
            if self.params.has("base_data_dir"):
                # Reference layout (FullLoadConfiguration.scala:36-38 +
                # HadoopLoadHelper.buildTimestampedTablePath:14-17):
                # versions are siblings named <base_data_dir>_<stamp>
                # under the table root, e.g. data_20180505020927123.
                if root is None:
                    raise RuntimeError(
                        f"table {self.table} has no resolvable location; "
                        "cannot derive the base_data_dir version root"
                    )
                import time as _time

                name = self.params.get_string("base_data_dir").strip("/")
                # one clock read, UTC like next_version_dir — a second
                # read for the ms part could straddle a second boundary
                t = _time.time()
                stamp = (
                    _time.strftime("%Y%m%d%H%M%S", _time.gmtime(t))
                    + f"{int(t * 1000) % 1000:03d}"
                )
                # Multi-segment base_data_dir ('archive/data'): once the
                # table is versioned its location already ends in
                # .../archive/data_<stamp>, and root (= its parent)
                # already carries the 'archive' prefix — re-appending
                # the full name would nest a fresh archive/ level per
                # run. Strip the prefix back off the root in that case.
                last = name.rsplit("/", 1)[-1]
                prev_name = self.previous_location.rstrip("/").rsplit(
                    "/", 1
                )[-1]
                if "/" in name and _re.fullmatch(
                    rf"{_re.escape(last)}_\d{{17}}", prev_name
                ):
                    prefix = "/" + name.rsplit("/", 1)[0]
                    if root.endswith(prefix):
                        root = root[: -len(prefix)]
                self.next_location = f"{root}/{name}_{stamp}"
            else:
                base = self.params.get_optional("target_dir") or root
                self.next_location = next_version_dir(base)
        else:
            self.next_location = self.params.get_string("target_location")

    def read(self) -> list[DataFrame]:
        p = dict(self.params.params)
        p.setdefault("reader_mode", "FAILFAST")
        p.setdefault("null_value", NULL_SENTINEL)
        if p.get("schema") is None and self.table and not p.get("additional_task"):
            # With in-load reshaping the source shape differs from the
            # target table by design — never force the target schema
            # onto the raw read then.
            mode = str(p.get("reader_mode", "FAILFAST")).upper()
            drop = set(self.partition_targets)
            drop_derived = p.get("drop_date_derived_columns")
            if drop_derived is None:
                # reference default: derived-name columns drop under
                # FAILFAST (FullLoadConfiguration.scala:43-45)
                drop_derived = mode == "FAILFAST"
            if drop_derived:
                # ALLOWED_DERIVATIONS (DateComponentDerivation.scala:146)
                drop |= {"year", "month", "day", "week"}
            schema = cat.table_schema(self.spark, self.table, drop_columns=drop)
            if mode == "PERMISSIVE" and p.get("add_corrupt_record_column"):
                # getSchemaSafely's PERMISSIVE branch
                # (CatalogTableManager.scala:135-150): malformed rows
                # keep their raw line in _corrupt_record.
                from pyspark.sql.types import StringType, StructField

                # The appended field must carry the EFFECTIVE corrupt
                # column name: a caller-supplied
                # columnNameOfCorruptRecord wins over the default, and
                # a schema field under a different name would silently
                # drop the raw malformed lines.
                corrupt_col = p.setdefault(
                    "columnNameOfCorruptRecord", "_corrupt_record"
                )
                schema = StructType(
                    list(schema.fields)
                    + [StructField(corrupt_col, StringType(), True)]
                )
            fmt = format_from_params(p)
            fmt.schema = schema
        else:
            fmt = format_from_params(p)
        return [fmt.read(self.spark, self.params.get_string("source_dir"))]

    def transform(self, dfs: list[DataFrame]) -> list[DataFrame]:
        df = dfs[0]
        task = self.params.get_optional("additional_task")
        if task:
            # In-load reshaping chain: flatten → transpose → dates →
            # schema check (DataReshapingTask.scala:25-52).
            from m3d_engine_spark.operators.reshaping import apply_additional_task

            # Schema to transpose/enforce against: explicit param first
            # (location-targeted loads have no catalog table to ask).
            if self.params.get_optional("target_schema"):
                target_schema = StructType.fromJson(
                    self.params.get_map("target_schema")
                )
            else:
                target_schema = self.spark.table(self.table).schema if self.table else None
            df = apply_additional_task(
                df,
                task,
                target_schema=target_schema,
                partition_column=self.params.get_optional("partition_column", ""),
                partition_column_format=self.params.get_optional(
                    "partition_column_format", ""
                ),
                target_partitions=self.partition_targets,
            )
            return [df]
        if self.partition_targets and self.params.get_optional("partition_column"):
            # Empty partition_column = partitioning by existing
            # NON-DERIVED columns (FullLoadTest partitioned_multi_columns)
            # — nothing to derive, the columns are already in the data.
            df = with_date_components(
                df,
                self.params.get_string("partition_column"),
                self.params.get_string("partition_column_format"),
                self.partition_targets,
            )
        if self.table:
            df = enforce_schema(df, self.spark.table(self.table).schema)
        return [df]

    def write(self, dfs: list[DataFrame]) -> None:
        df = dfs[0]
        n = self.params.get_optional("output_files_num", 10)
        if not self.table:
            # next_location IS the live target (no versioned swap): an
            # in-place overwrite would clear the directory first, so a
            # mid-write failure destroys the previous dataset with
            # nothing to restore. Route through the temp-write → dir
            # swap → restore protocol instead.
            AtomicWriter(
                self.spark,
                self.next_location,
                partition_columns=list(self.partition_targets),
                output_files_num=n,
            ).write(df, LoadMode.OVERWRITE_TABLE)
            return
        df = repartitioned(df, n, self.partition_targets)
        try:
            w = df.write.mode("overwrite").format("parquet")
            if self.partition_targets:
                w = w.partitionBy(*self.partition_targets)
            # fresh version dir: in-place save is safe, and failure
            # cleanup just removes the partial dir
            w.save(self.next_location)
        except Exception:
            self.dfs.delete(self.next_location)  # FullLoad.scala:47-58
            raise
        try:
            cat.swap_table_location(
                self.spark, self.table, self.next_location,
                self.previous_location, self.partition_targets,
            )
        except Exception:
            self.dfs.delete(self.next_location)
            raise
        if self.previous_location and self.previous_location != self.next_location:
            self.dfs.delete(self.previous_location)
        # Leftover cleanup (FullLoad.scala:73-74 +
        # HadoopLoadHelper.cleanupDirectoryLeftovers:50-63): stray
        # version dirs / $folder$ markers from earlier crashed loads
        # would otherwise accumulate at the table root forever.
        # ONLY when the table demonstrably lives in a versioned
        # layout: the reference always runs under a dedicated
        # base_data_dir, but an onboarded external table may sit
        # flat next to OTHER tables (/lake/db/orders beside
        # /lake/db/customers) — deleting siblings there would
        # destroy unrelated datasets, so the cleanup is skipped
        # unless the old location's own name carries a version
        # stamp or the caller configured target_dir explicitly.
        base, _, keep = self.next_location.rstrip("/").rpartition("/")
        prev_name = (
            self.previous_location.rstrip("/").rsplit("/", 1)[-1]
            if self.previous_location
            else ""
        )
        versioned_layout = self.params.has("target_dir") or _re.search(
            r"\d{8}[_]?\d{6}", prev_name
        )
        if versioned_layout:
            # Delete ONLY entries that are themselves engine
            # version artifacts — a name matching one of the two
            # version-dir schemes (next_version_dir's
            # YYYYmmdd_HHMMSS, or base_data_dir's <name>_<17-digit
            # stamp>), optionally with an EMR '$folder$' marker
            # suffix. Anything else in the root (an unrelated
            # sibling dataset on a shared parent, a _SUCCESS file)
            # is NOT a leftover and must survive: a flat table
            # whose own dir name happens to look stamped would
            # otherwise trip versioned_layout on its second run
            # and wipe every sibling.
            if self.params.has("base_data_dir"):
                # only the FINAL path segment: list_entries returns
                # bare child names, so a multi-segment base_data_dir
                # ('archive/data') must match on 'data_<stamp>' —
                # the full path could never fullmatch and would
                # silently disable cleanup forever
                stem = _re.escape(
                    self.params.get_string("base_data_dir")
                    .strip("/")
                    .rsplit("/", 1)[-1]
                )
                version_name = _re.compile(
                    rf"{stem}_\d{{17}}(_\$folder\$)?"
                )
            else:
                version_name = _re.compile(
                    r"(?:\d{8}_\d{6}|.+_\d{17})(_\$folder\$)?"
                )
            for entry in self.dfs.list_entries(base):
                if keep not in entry and version_name.fullmatch(entry):
                    self.dfs.delete(f"{base}/{entry}")

    def update_statistics(self) -> None:
        if self.table:
            # Per-partition ANALYZE first, then table-level
            # (TableStatistics.scala:55-80). A full swap rewrites EVERY
            # partition, so the freshly recovered listing IS the affected
            # set here (values come back unescaped from
            # list_table_partitions).
            specs = (
                cat.list_table_partitions(self.spark, self.table)
                if self.partition_targets
                else []
            )
            cat.compute_statistics(self.spark, self.table, partition_specs=specs)
