"""View/table materialization: Full / Range / Query.

Reference parity: algo/Materialization.scala +
config/MaterializationConfiguration.scala —
* **Full**: materialize the whole source to a new timestamped location,
  retain the last N versions (Materialization.scala:63-136);
* **Range**: materialize partitions for a date range at y/m/d, y/m or
  y/w granularity (:138-145, range expansion
  MaterializationConfiguration.scala:131-169);
* **Query**: materialize partitions matching explicit col=value
  conditions (:147-154).

Range/Query scope the source scan with a Column predicate so Catalyst
prunes partitions at the read (the reference's row-lambda scanned
everything — SURVEY.md §4, the designed-in win).
"""

from __future__ import annotations

import datetime as dt
from typing import Sequence

from pyspark.sql import DataFrame, SparkSession

from m3d_engine_spark.config import ParamsFile
from m3d_engine_spark.functions.dates import aligned_week_of_year  # noqa: F401 (week parity)
from m3d_engine_spark.operators.base import Algorithm, register, tracked_checkpoint
from m3d_engine_spark.plans.partitions import partition_predicate
from m3d_engine_spark.sources import catalog as cat
from m3d_engine_spark.sources.dfs import DFS, next_version_dir
from m3d_engine_spark.sources.writers import AtomicWriter, LoadMode, repartitioned


def date_range_criteria(
    date_from: str, date_to: str, target_partitions: Sequence[str]
) -> list[list[tuple[str, int]]]:
    """Expand [date_from, date_to] into PartitionCriteria at the
    granularity implied by target_partitions
    (MaterializationConfiguration.scala:131-169). Bounds accept the
    reference's per-granularity formats — ``yyyy-MM-dd`` for
    [year,month,day], ``yyyy-MM`` for [year,month], ``yyyy-ww`` for
    [year,week] (ISO week-of-weekyear paired with the CALENDAR year of
    the stepped date, mirroring Joda's
    ``date.getYear``/``getWeekOfWeekyear``) — and, for convenience,
    full ``yyyy-MM-dd`` dates at the coarser granularities too, where
    [year,week] then uses the load-side ALIGNED week (week 1 =
    Jan 1-7, functions/dates.py), deduplicating as it steps days.
    Any other partitioning schema raises, like the reference."""
    tp = list(target_partitions)
    if tp not in (["year", "month", "day"], ["year", "month"], ["year", "week"]):
        raise ValueError(f"unsupported range granularity {target_partitions!r}")

    short_from, short_to = len(date_from) <= 7, len(date_to) <= 7
    if tp == ["year", "month"] and short_from and short_to:
        y0, m0 = (int(x) for x in date_from.split("-"))
        y1, m1 = (int(x) for x in date_to.split("-"))
        if (y0, m0) > (y1, m1):
            raise ValueError("date_from is after date_to")
        out: list[list[tuple[str, int]]] = []
        y, m = y0, m0
        while (y, m) <= (y1, m1):
            out.append([("year", y), ("month", m)])
            m += 1
            if m == 13:
                y, m = y + 1, 1
        return out
    if tp == ["year", "week"] and short_from and short_to:
        y0, w0 = (int(x) for x in date_from.split("-"))
        y1, w1 = (int(x) for x in date_to.split("-"))
        d = dt.date.fromisocalendar(y0, w0, 1)
        end = dt.date.fromisocalendar(y1, w1, 1)
        if d > end:
            raise ValueError("date_from is after date_to")
        out = []
        while d <= end:
            out.append([("year", d.year), ("week", d.isocalendar()[1])])
            d += dt.timedelta(weeks=1)
        return out

    start = dt.date.fromisoformat(date_from)
    end = dt.date.fromisoformat(date_to)
    if start > end:
        # the short-format paths raise here; a silent empty range would
        # make RangeMaterialization a no-op "success" on a typo
        raise ValueError("date_from is after date_to")
    seen: list[list[tuple[str, int]]] = []
    seen_keys: set[tuple] = set()
    d = start
    while d <= end:
        if tp == ["year", "month", "day"]:
            crit = [("year", d.year), ("month", d.month), ("day", d.day)]
        elif tp == ["year", "month"]:
            crit = [("year", d.year), ("month", d.month)]
        else:
            week = (d.timetuple().tm_yday - 1) // 7 + 1
            crit = [("year", d.year), ("week", week)]
        key = tuple(crit)
        if key not in seen_keys:
            seen_keys.add(key)
            seen.append(crit)
        d += dt.timedelta(days=1)
    return seen


@register("FullMaterialization")
class FullMaterialization(Algorithm):
    """Config: source_table, target_table OR target_dir, output_files_num,
    num_versions_to_retain, to_cache, target_partitions (optional)."""

    def __init__(self, spark: SparkSession, params: ParamsFile):
        super().__init__(spark, params)
        self.dfs = DFS(spark)
        self.next_location: str | None = None

    def prepare(self) -> None:
        self.base_dir = self.params.get_string("target_dir")
        self.next_location = next_version_dir(self.base_dir)

    def read(self) -> list[DataFrame]:
        df = self.spark.table(self.params.get_string("source_table"))
        if self.params.get_optional("to_cache", False):
            # Materialization.scala:19
            df = tracked_checkpoint(df, self._checkpointed)
        return [df]

    def transform(self, dfs: list[DataFrame]) -> list[DataFrame]:
        return dfs

    def write(self, dfs: list[DataFrame]) -> None:
        df = dfs[0]
        parts = self.params.get_optional("target_partitions", [])
        # reference spelling → reference semantics: plain round-robin
        # repartition(n) (Algorithm.scala:138,157)
        spread = self.params.has("number_output_partitions") and not self.params.has(
            "output_files_num"
        )
        n = (
            int(self.params.get_int("number_output_partitions"))
            if spread
            else self.params.get_optional("output_files_num", 10)
        )
        w = repartitioned(df, n, parts, spread).write.mode("overwrite").format("parquet")
        if parts:
            w = w.partitionBy(*parts)
        try:
            w.save(self.next_location)
            if self.params.has("target_table"):
                table = self.params.get_string("target_table")
                cat.swap_table_location(
                    self.spark, table, self.next_location,
                    cat.table_location(self.spark, table), parts,
                )
        except Exception:
            # a partial or unswapped version dir would be kept by
            # _retain_versions AND served by version_as_of time-travel
            # as a valid snapshot — remove it (the FullLoad discipline)
            self.dfs.delete(self.next_location)
            raise
        self._retain_versions()

    # Entries containing these tokens are never version candidates:
    # partition dirs (=), stray parquet/_SUCCESS files, EMR $folder$
    # markers, temp dirs (MaterializationConfiguration.scala:88-91).
    SORTING_IGNORE = ("_$folder$", "=", ".parquet", "_SUCCESS", "_tmp_")

    def _retain_versions(self) -> None:
        """Keep the newest ``num_versions_to_retain`` PREVIOUS versions
        plus the one just written, and clean up every other leftover in
        the base dir — stray part files, partition dirs from pre-version
        layouts (``year=...``) — which would otherwise poison the
        lexicographic version ordering or leak storage
        (Materialization.scala:112-136, HadoopLoadHelper.scala:50-58).
        ``_$folder$`` markers of retained versions survive (their names
        contain the retained dir name), matching the reference."""
        keep = self.params.get_optional("num_versions_to_retain")
        if not keep:
            return
        # sorting_ignore_folder_names: the reference's param override of
        # the default non-version token list
        # (MaterializationConfiguration.scala:89-92)
        ignore = tuple(
            self.params.get_optional(
                "sorting_ignore_folder_names", self.SORTING_IGNORE
            )
        )
        retained = sorted(
            (
                d for d in self.dfs.list_dirs(self.base_dir)
                if not any(tok in d for tok in ignore)
            ),
            reverse=True,
        )[: int(keep) + 1]
        base = self.base_dir.rstrip("/")
        # Exact-name protection (plus the EMR marker twin) — substring
        # containment would let a retained '2020' shield a stale '20201'.
        protected = set(retained) | {f"{v}_$folder$" for v in retained}
        for entry in self.dfs.list_entries(self.base_dir):
            if entry not in protected:
                self.dfs.delete(f"{base}/{entry}")


class _PartitionedMaterialization(Algorithm):
    """Shared body for Range/Query: filter source rows to the requested
    partitions (pruned scan) and atomically overwrite those partitions."""

    criteria: list[list[tuple[str, object]]] = []

    def read(self) -> list[DataFrame]:
        return [self.spark.table(self.params.get_string("source_table"))]

    def transform(self, dfs: list[DataFrame]) -> list[DataFrame]:
        return [dfs[0].filter(partition_predicate(self.criteria))]

    def write(self, dfs: list[DataFrame]) -> None:
        writer = AtomicWriter(
            self.spark,
            self.params.get_string("target_dir"),
            partition_columns=list(self.params.get_list("target_partitions")),
            # number_output_partitions is the reference's spelling
            # (MaterializationConfiguration.scala) and carries the
            # reference's round-robin semantics (n files per dir);
            # output_files_num keeps this engine's compacting hash form.
            output_files_num=self.params.get_optional(
                "output_files_num",
                self.params.get_optional("number_output_partitions"),
            ),
            spread_output_files=(
                self.params.has("number_output_partitions")
                and not self.params.has("output_files_num")
            ),
        )
        writer.write(dfs[0], LoadMode.OVERWRITE_PARTITIONS)
        if self.params.has("target_table"):
            from m3d_engine_spark.sources import catalog as cat

            cat.update_partition_metadata(
                self.spark,
                self.params.get_string("target_table"),
                self.params.get_optional("metadata_update_strategy"),
                writer.last_affected,
            )


@register("RangeMaterialization")
class RangeMaterialization(_PartitionedMaterialization):
    """Config adds: date_from, date_to (yyyy-MM-dd)."""

    def prepare(self) -> None:
        self.criteria = date_range_criteria(
            self.params.get_string("date_from"),
            self.params.get_string("date_to"),
            self.params.get_list("target_partitions"),
        )


@register("QueryMaterialization")
class QueryMaterialization(_PartitionedMaterialization):
    """Config adds: partition_criteria [[["year",2024],["month",2]], ...]
    or the reference's select_conditions ["year=2017", "month=2", ...]
    (one ANDed partition, MaterializationConfiguration.scala:119-123)."""

    def prepare(self) -> None:
        if self.params.has("partition_criteria"):
            self.criteria = [
                [tuple(cond) for cond in crit]
                for crit in self.params.get_list("partition_criteria")
            ]
        else:
            from m3d_engine_spark.plans.partitions import parse_conditions

            self.criteria = [
                parse_conditions(self.params.get_list("select_conditions"))
            ]
