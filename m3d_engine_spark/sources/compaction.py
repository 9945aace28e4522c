"""Small-files compaction: rewrite a table directory into target-size
files.

The operational sibling of the reference's Delta compaction
(``DeltaLakeLoad.scala:318-352``, the ``dataChange=false`` rewrite),
for the engine's plain parquet tables: streaming appends, per-batch
partitioned writes, and partition-scoped loads all accrete small files
until listing time and task-launch overhead dominate scans — the
classic small-files problem. Compaction is pure layout: same rows,
fewer, right-sized files.

How it runs:

    measure on-disk bytes (driver-side FS listing — metadata only)
    → n_files = clamp(ceil(bytes / target_file_bytes))
    → read → round-robin repartition(n_files)            [1 exchange]
      (or repartition(n, partition_cols) for Hive-partitioned
      tables, co-locating each partition's rows)
    → atomic temp-write → dir swap → backup delete       [AtomicWriter]

The single round-robin exchange is the honest cost of re-laying-out
data — every engine's OPTIMIZE pays it; it produces evenly-sized
output files regardless of input skew. The swap inherits the
engine's backup/restore protocol, so a failed compaction leaves the
original directory untouched, and readers never observe a half-written
table. ``zorder_write`` (``sources/layout.py``) is the clustered
variant of the same rewrite when you also want multi-dimensional
data skipping.
"""

from __future__ import annotations

import math

from pyspark.sql import SparkSession

from m3d_engine_spark.sources.dfs import DFS
from m3d_engine_spark.sources.writers import AtomicWriter, LoadMode


def dir_bytes(dfs: DFS, path: str) -> int:
    """Total data bytes under ``path`` (driver-side listing via the
    Hadoop FS — metadata only, no data read)."""
    fs, p = dfs._fs_path(path)  # noqa: SLF001 — same-package use of the wrapper
    return int(fs.getContentSummary(p).getLength())


def plan_file_count(
    total_bytes: int,
    target_file_bytes: int,
    max_files: int = 100_000,
) -> int:
    """ceil(total/target), clamped to [1, max_files]."""
    if target_file_bytes <= 0:
        raise ValueError("target_file_bytes must be positive")
    return max(1, min(int(max_files), math.ceil(total_bytes / target_file_bytes)))


def partition_dir_count(dfs: DFS, path: str) -> int:
    """Number of leaf partition directories = distinct parents of the
    data files under ``path`` (driver-side listing, metadata only)."""
    parents = {
        f.rsplit("/", 1)[0]
        for f in dfs.list_files(path)
        if not f.rsplit("/", 1)[-1].startswith("_")
    }
    return max(1, len(parents))


def compact_table(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    partition_columns: list[str] | None = None,
    file_format: str = "parquet",
    skew_aware: bool = False,
) -> int:
    """Rewrite the table at ``path`` into ~``target_file_bytes`` files.
    Returns the planned TOTAL file count. Atomic: a failure leaves the
    original intact.

    Non-partitioned: ``repartition(n)`` round-robin — n even files.
    Partitioned: each partition's rows must land in tasks that write
    that partition dir, and a plain ``repartition(n, partition_cols)``
    collapses every partition to ONE file regardless of n — so rows are
    salted with ``xxhash64(content) % files_per_partition`` and the
    exchange keys on (partition_cols…, salt): each partition dir gets
    ~``files_per_partition`` files. By default files_per_partition is
    the uniform estimate total_bytes / partition_dirs / target;
    ``skew_aware=True`` plans it PER PARTITION from per-partition row
    counts × the table's bytes/row (one extra count aggregate, its
    partitions-sized result broadcast back as the salt modulus) — a
    10× partition then gets ~10× the files instead of 10×-oversized
    ones; the topology is unchanged.

    Sizing uses the CURRENT on-disk bytes, which over-estimates the
    output when compression improves with bigger row groups — that
    bias yields slightly-under-target files, the safe side (a
    compaction that under-counts would recreate the problem it fixes).
    """
    from pyspark.sql import functions as F

    dfs = DFS(spark)
    total = dir_bytes(dfs, path)
    df = spark.read.format(file_format).load(path)
    partition_columns = list(partition_columns or [])
    if not partition_columns:
        n = plan_file_count(total, int(target_file_bytes))
        writer = AtomicWriter(
            spark, path, partition_columns=[], format=file_format,
            output_files_num=n,
        )
        writer.write(df, LoadMode.OVERWRITE_TABLE)
        return n
    n_parts = partition_dir_count(dfs, path)
    if skew_aware:
        # ONE extra job: the partitions-sized count relation is
        # collected to the driver (metadata scale), everything else —
        # total rows, bytes/row, per-partition file counts, n_total —
        # is computed from that single result; the write job then sees
        # a literal broadcast relation instead of re-deriving the
        # aggregate a second and third time.
        counts = df.groupBy(*partition_columns).agg(
            F.count(F.lit(1)).alias("_prows")
        ).collect()
        total_rows = max(1, sum(r["_prows"] for r in counts))
        bytes_per_row = total / total_rows
        fpp_rows = [
            tuple(r[c] for c in partition_columns)
            + (
                max(
                    1,
                    math.ceil(
                        r["_prows"] * bytes_per_row / int(target_file_bytes)
                    ),
                ),
            )
            for r in counts
        ]
        n_total = sum(r[-1] for r in fpp_rows)
        fpp_rel = spark.createDataFrame(
            fpp_rows,
            df.select(*partition_columns).schema.add("_fpp", "integer"),
        )
        # eqNullSafe join keys: a NULL partition value (Hive default
        # partition) must still match its fpp row — a plain equi-join
        # would silently DROP those rows from the rewrite.
        cond = [
            df[c].eqNullSafe(fpp_rel[c]) for c in partition_columns
        ]
        salted = (
            df.join(F.broadcast(fpp_rel), on=cond)
            .drop(*[fpp_rel[c] for c in partition_columns])
            .withColumn(
                "_salt", F.pmod(F.xxhash64(*df.columns), F.col("_fpp"))
            )
            .repartition(n_total, *partition_columns, "_salt")
            .drop("_salt", "_fpp")
        )
    else:
        fpp = plan_file_count(
            math.ceil(total / n_parts), int(target_file_bytes)
        )
        n_total = n_parts * fpp
        salted = df.withColumn(
            "_salt", F.pmod(F.xxhash64(*df.columns), F.lit(fpp))
        ).repartition(n_total, *partition_columns, "_salt").drop("_salt")
    writer = AtomicWriter(
        spark, path, partition_columns=partition_columns,
        format=file_format, output_files_num=None,
    )
    writer.write(salted, LoadMode.OVERWRITE_TABLE)
    return n_total
