"""Append new landing files into a partitioned table (AppendLoad).

Reference parity: algo/loads/AppendLoad.scala —
* partition values either derived from a date column or regex-extracted
  from the source file path (AppendLoad.scala:221-241);
* per-partition schema headers persisted as ``header.json`` and reused
  on later loads (:204,264-288);
* atomic partition overwrite or union-append
  (OutputWriter.scala:147-191).

The reference's filename-strip UDF (:225-226) is a single
``regexp_replace(input_file_name(), ...)`` expression here; regex
partition extraction stays per-row but is computed from the already
in-memory filename — no extra I/O and no Python.
"""

from __future__ import annotations

import json
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from m3d_engine_spark.config import ParamsFile
from m3d_engine_spark.functions.dates import with_date_components
from m3d_engine_spark.operators.base import Algorithm, register
from m3d_engine_spark.sources.dfs import DFS
from m3d_engine_spark.sources.formats import format_from_params
from m3d_engine_spark.sources.writers import AtomicWriter, LoadMode, partition_rel_path

_PROTOCOL = r"^\w+\d*://[^/]+/"  # strip scheme://host/ (AppendLoad.scala:209-210)

_REGEX_TYPE_CAST = {"year": "int", "month": "int", "day": "int", "week": "int"}


def with_filename_partitions(
    df: DataFrame, target_partitions: list[str], regexes: list[str]
) -> DataFrame:
    """Derive partition columns by matching regexes against the source
    file path (AppendLoad.scala:221-241). ``regexes[i]`` extracts
    ``target_partitions[i]`` via capture group 1."""
    path = F.regexp_replace(F.input_file_name(), _PROTOCOL, "")
    cols = {}
    for col, regex in zip(target_partitions, regexes):
        value = F.regexp_extract(path, regex, 1)
        cols[col] = value.cast(_REGEX_TYPE_CAST.get(col, "string")).alias(col)
    return df.withColumns(cols)


@register("AppendLoad")
class AppendLoad(Algorithm):
    """Config: source_dir, header_dir, target_table/target_location,
    target_partitions, regex_filename [..] OR partition_column(+format),
    file_format + reader options (default mode DROPMALFORMED,
    AppendLoadConfiguration.scala:108), load_mode
    (OverwritePartitionsWithAddedColumns default | AppendUnionPartitions),
    verify_schema."""

    def __init__(self, spark: SparkSession, params: ParamsFile):
        super().__init__(spark, params)
        self.dfs = DFS(spark)
        self.targets: list[str] = params.get_optional("target_partitions", [])
        # STRUCTURED tables come from the metastore, SEMISTRUCTURED from
        # a target_dir + inline schema; anything else is a config error
        # (AppendLoadConfiguration.scala:62-82).
        self.data_type: str = str(
            params.get_optional("data_type", "structured")
        ).lower()
        if self.data_type not in ("structured", "semistructured"):
            raise RuntimeError(
                f"Unsupported data type: {self.data_type} in AppendLoad or "
                "the configuration file is malformed."
            )
        # verify_schema defaults TRUE for semistructured data and is
        # forced off for structured (AppendLoadConfiguration.scala:39-42).
        default_verify = self.data_type == "semistructured"
        self.verify = bool(params.get_optional("verify_schema", default_verify))

    def _target_location(self) -> str:
        if self.params.has("target_location"):
            return self.params.get_string("target_location")
        if self.params.has("target_dir"):  # the semistructured key
            return self.params.get_string("target_dir")
        from m3d_engine_spark.sources import catalog as cat

        return cat.table_location(self.spark, self.params.get_string("target_table"))

    def _target_schema_no_partitions(self) -> StructType | None:
        if self.params.get_optional("schema"):
            full = StructType.fromJson(self.params.get_map("schema"))
            return StructType([f for f in full.fields if f.name not in self.targets])
        if self.params.has("target_table"):
            from m3d_engine_spark.sources import catalog as cat

            return cat.table_schema(
                self.spark, self.params.get_string("target_table"), drop_columns=self.targets
            )
        return None

    def _search_group1(self, regex: str, path: str) -> str | None:
        """First capture group of the first match, with Java-regex
        semantics. Python ``re`` is the fast path; patterns it cannot
        compile (e.g. the BOUNDED variable-width lookbehind Java allows,
        ``(?<=/[a-zA-Z]{0,20})`` in the reference's parquet configs) go
        through the JVM's Pattern via py4j — driver-side only, so the
        round-trip cost is bounded by the landing listing."""
        try:
            pat = re.compile(regex)
        except re.error:
            pattern = getattr(self.spark._jvm, "java.util.regex.Pattern")
            jm = pattern.compile(regex).matcher(path)
            return jm.group(1) if jm.find() else None
        m = pat.search(path)
        return m.group(1) if m else None

    def _regex_partition_criteria(self, path: str) -> list[tuple[str, object]]:
        """Partition values regex-extracted from one file path — the
        per-file (driver-side) twin of with_filename_partitions, used to
        group files by their header location (AppendLoad.scala:221-241)."""
        crit: list[tuple[str, object]] = []
        for col, regex in zip(self.targets, self.params.get_list("regex_filename")):
            v: object = self._search_group1(regex, path)
            if v is not None and _REGEX_TYPE_CAST.get(col, "string") == "int":
                v = int(v)
            crit.append((col, v))
        return crit

    def _discover_sources(self) -> list[tuple[StructType | None, list[str]]]:
        """Group landing files by their header path; resolve each
        group's schema from the persisted header.json, else by inference
        (verify_schema) or the partition-stripped target schema
        (AppendLoad.scala:87-179)."""
        source_dir = self.params.get_string("source_dir")
        files = [
            f for f in self.dfs.list_files(source_dir)
            if not f.rsplit("/", 1)[-1].startswith(("_", "."))
        ]
        target_schema = self._target_schema_no_partitions()
        groups: dict[str, list[str]] = {}
        crit_by_key: dict[str, list[tuple[str, object]]] = {}
        for f in files:
            crit = self._regex_partition_criteria(re.sub(_PROTOCOL, "", f))
            key = partition_rel_path(crit)
            groups.setdefault(key, []).append(f)
            crit_by_key[key] = crit
        p = dict(self.params.params)
        p.setdefault("reader_mode", "DROPMALFORMED")
        out: list[tuple[StructType | None, list[str]]] = []
        mismatched = False
        for key, paths in sorted(groups.items()):
            header_schema = (
                self.read_header(crit_by_key[key])
                if self.params.has("header_dir")
                else None
            )
            if self.verify and target_schema is not None:
                # Verify mode: check the header-or-inferred schema
                # against the target, then read every matching group
                # with the TARGET schema (AppendLoad.scala:113-131).
                check = header_schema
                if check is None:
                    fmt = format_from_params({**p, "schema": None})
                    check = fmt.read(self.spark, *paths).schema
                allowed = {f.name for f in target_schema.fields} | set(self.targets)
                if [n for n in check.names if n not in allowed]:
                    mismatched = True
                    continue
                out.append((target_schema, paths))
            else:
                out.append(
                    (header_schema if header_schema is not None else target_schema, paths)
                )
        if mismatched:
            # Exact reference message (AppendLoad.scala:123-126); raised
            # before anything is written.
            raise RuntimeError(
                "Schema does not match the input data for some of the input folders."
            )
        return out

    def read(self) -> list[DataFrame]:
        p = dict(self.params.params)
        p.setdefault("reader_mode", "DROPMALFORMED")
        if self.params.has("regex_filename") and self.targets:
            # Header-grouped source discovery: each file group reads
            # with its own (persisted or inferred) schema, so landing
            # dirs whose schema evolved batch-over-batch load correctly.
            parts: list[DataFrame] = []
            for schema, paths in self._discover_sources():
                fmt = format_from_params({**p, "schema": None})
                fmt.schema = schema
                parts.append(fmt.read(self.spark, *paths))
            if parts:
                # Group frames kept for header persistence: headers are
                # written per source group (AppendLoad.scala:264-288),
                # not from the unioned frame.
                self._group_dfs = list(parts)
                df = parts[0]
                for other in parts[1:]:
                    df = df.unionByName(other, allowMissingColumns=True)
                return [df]
            fmt = format_from_params(p)
            fmt.schema = self._target_schema_no_partitions()
            df = fmt.read(self.spark, self.params.get_string("source_dir"))
            self._group_dfs = [df]
            return [df]
        fmt = format_from_params(p)
        if fmt.schema is None:
            fmt.schema = self._target_schema_no_partitions()
        df = fmt.read(self.spark, self.params.get_string("source_dir"))
        self._group_dfs = [df]
        return [df]

    def transform(self, dfs: list[DataFrame]) -> list[DataFrame]:
        return [self._with_partitions(dfs[0])]

    def write(self, dfs: list[DataFrame]) -> None:
        df = dfs[0]
        writer = AtomicWriter(
            self.spark,
            self._target_location(),
            partition_columns=list(self.targets),
            output_files_num=self.params.get_optional("output_files_num"),
        )
        # Reference default is plain OverwritePartitions with
        # AppendUnionPartitions as the opt-in (write_load_mode,
        # AppendLoadConfiguration.scala:54-58). The load_mode key stays
        # as this engine's generic spelling.
        mode = LoadMode(
            self.params.get_optional(
                "write_load_mode",
                self.params.get_optional("load_mode", "OverwritePartitions"),
            )
        )
        writer.write(df, mode)
        if self.targets:
            # Affected partitions of THIS load, with raw values — the
            # ANALYZE scope (TableStatistics analyzes only touched
            # partitions, not the whole table). The atomic writer
            # already collected them from the pinned frame; only a
            # non-partitioned mode (no collection) re-scans here.
            if writer.last_affected is not None:
                self.affected = writer.last_affected
            else:
                from m3d_engine_spark.plans.partitions import collect_partitions

                self.affected = collect_partitions(df, self.targets)
        if self.params.has("header_dir"):
            self._persist_headers(df)
        if self.params.has("target_table"):
            from m3d_engine_spark.sources import catalog as cat

            cat.update_partition_metadata(
                self.spark,
                self.params.get_string("target_table"),
                self.params.get_optional("metadata_update_strategy"),
                getattr(self, "affected", None),
            )

    def update_statistics(self) -> None:
        if self.params.has("target_table"):
            from m3d_engine_spark.sources import catalog as cat

            table = self.params.get_string("target_table")
            cat.compute_statistics(
                self.spark, table, partition_specs=getattr(self, "affected", [])
            )

    def _with_partitions(self, df: DataFrame) -> DataFrame:
        """The partition derivation: of the loaded frame in transform(),
        and of each source group when headers are persisted."""
        if self.params.has("regex_filename"):
            return with_filename_partitions(
                df, self.targets, self.params.get_list("regex_filename")
            )
        if self.params.has("partition_column"):
            return with_date_components(
                df,
                self.params.get_string("partition_column"),
                # default format parity: AppendLoad.scala:50 falls back
                # to yyyy-MM-dd (date-typed partition sources need no
                # explicit format — the cast-to-string form is ISO)
                self.params.get_optional("partition_column_format", "yyyy-MM-dd"),
                self.targets,
            )
        return df

    def _persist_headers(self, df: DataFrame) -> None:
        """Write the partition-stripped schema JSON as header.json per
        affected partition dir — per source GROUP, and never overwriting
        a header that already exists (AppendLoad.scala:264-288: the
        ``if (!fs.exists(headerPath))`` guard keeps a partition's first
        recorded schema authoritative across later loads)."""
        from m3d_engine_spark.plans.partitions import collect_partitions

        base = self.params.get_string("header_dir").rstrip("/")
        groups = getattr(self, "_group_dfs", [df])
        for gdf in groups:
            stripped = StructType(
                [f for f in gdf.schema.fields if f.name not in self.targets]
            )
            header = json.dumps(stripped.jsonValue())
            if len(groups) == 1 and getattr(self, "affected", None):
                # Single source group = the written frame itself; its
                # partition set was already collected during the write.
                crits = self.affected
            else:
                crits = collect_partitions(self._with_partitions(gdf), self.targets)
            for crit in crits:
                path = f"{base}/{partition_rel_path(crit)}/header.json"
                if not self.dfs.exists(path):
                    self.dfs.write_text(path, header)

    def read_header(self, partition_criteria) -> StructType | None:
        base = self.params.get_string("header_dir").rstrip("/")
        path = f"{base}/{partition_rel_path(partition_criteria)}/header.json"
        if not self.dfs.exists(path):
            return None
        return StructType.fromJson(json.loads(self.dfs.read_text(path)))
