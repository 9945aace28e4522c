"""SparkSession construction with scale-oriented defaults.

Reference parity: the session built by
``AlgorithmFactory.createSparkSession`` (AlgorithmFactory.scala:36-55)
enables Hive support, CBO, snappy parquet and a handful of reader confs.
Here we additionally enable AQE (adaptive query execution), which at
cluster scale subsumes most manual shuffle-partition tuning the reference
did by hand (DeltaLakeLoadConfiguration.scala:148-155).
"""

from __future__ import annotations

import os
from typing import Mapping

from pyspark.sql import SparkSession

# Defaults chosen for the 100 TB design point but safe locally:
#  - AQE coalesces shuffle partitions at runtime, splits skewed
#    partitions, and converts sort-merge joins to broadcast when a side
#    turns out small — exactly the knobs a static config can't get right
#    across scale factors.
#  - 64 MB advisory partition size keeps post-shuffle tasks memory-bound
#    rather than scheduler-bound.
#  - parquet filter pushdown / column pruning are on by default in Spark
#    but we pin them so a misconfigured cluster can't silently regress.
SCALE_DEFAULTS: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "64m",
    "spark.sql.autoBroadcastJoinThreshold": "64m",
    # Runtime bloom-filter join pruning: a selective (but too big to
    # broadcast) join side builds a bloom filter over its keys that is
    # pushed into the other side's scan — at 100 TB this is the
    # difference between shuffling the whole fact table and shuffling
    # the ~matching fraction. Default-on in this Spark, pinned here so
    # a cluster profile can't silently disable it. The injection
    # thresholds are left at their defaults (creation side ≤ 10 MB,
    # application-side scan ≥ 10 GB): at local test scale no scan
    # clears 10 GB, so injection is observed in tests by lowering
    # applicationSideScanSizeThreshold (tests/test_plans.py pins the
    # injected bloom_filter_agg + scan-side Filter shape).
    "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
    "spark.sql.cbo.enabled": "true",
    "spark.sql.parquet.compression.codec": "snappy",
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.sources.partitionOverwriteMode": "dynamic",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.shuffle.partitions": "32",
    "spark.serializer": "org.apache.spark.serializer.KryoSerializer",
    # Arrow for the few pandas-UDF paths (multimodal, embedding ops).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Read parquet TIMESTAMP(NANOS) (pandas/pyarrow default) as long —
    # Spark has no ns timestamp; sources/testdata.py converts to µs.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Generated-class cache, per JVM (driver and each executor). Static:
    # read once when the JVM's first session starts. The cache is LRU
    # and Spark's default is 100 entries; a FuzzyDedup run generates
    # ~155 distinct classes in the same order every run, so at 100
    # every lookup misses and every warm run recompiles all of them
    # (~1 s of Janino CPU, mostly inside tasks). A lake_loads run
    # generates 58 and already fit. 1000 holds both working sets with
    # room for plans that grow.
    "spark.sql.codegen.cache.maxEntries": "1000",
}


def build_session(
    app_name: str = "m3d_engine_spark",
    master: str | None = None,
    extra_conf: Mapping[str, str] | None = None,
    hive: bool = False,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` when unset so the
    same entry point works on a laptop, in CI, and under spark-submit on
    a real cluster (where master comes from the submit environment).
    """
    builder = SparkSession.builder.appName(app_name)
    if master is None and "SPARK_GRAFT_CPUS" in os.environ:
        master = f"local[{os.environ['SPARK_GRAFT_CPUS']}]"
    if master:
        builder = builder.master(master)
    conf = dict(SCALE_DEFAULTS)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    if hive:
        builder = builder.enableHiveSupport()
    return builder.getOrCreate()


def codegen_compiles(spark: SparkSession) -> int:
    """Generated classes Janino has compiled so far in this driver JVM
    (Spark's ``CodegenMetrics``). In local mode the executors share the
    JVM, so classes compiled inside tasks count too; read it before and
    after a run to see how much of its working set missed the cache."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics  # noqa: SLF001
    return int(metrics.METRIC_COMPILATION_TIME().getCount())
