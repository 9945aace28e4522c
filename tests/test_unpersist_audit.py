"""Unpersist audit: no algorithm run() may leave cached blocks behind.

Every reused frame on the load path is a tracked lazy local checkpoint
(AtomicWriter's affected-partition frame, DeltaLoad's delta and
condensed frames, DeltaLakeLoad's raw+condensed frames,
FullMaterialization's to_cache, ExpectationsCheck's report), and each
must be released by the time run() returns — a long-lived session
(thrift server, notebook, orchestrated batch loop) would otherwise
accumulate executor storage until eviction thrash. The base
Algorithm.run() owns the guarantee via the ``_checkpointed`` registry
(AtomicWriter frees its own frame); this test pins it for the
algorithms that pin frames, so a future pin point cannot ship without
joining the registry.
"""

from __future__ import annotations

import pytest
from pyspark.sql import Row

from m3d_engine_spark.config import ParamsFile


def _n_persistent_rdds(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()  # noqa: SLF001


def _purge_persistent_rdds(spark) -> None:
    """Drop leftover persistent RDDs from OTHER tests (localCheckpoint
    blocks — e.g. the connected-components rounds — stay registered
    until the JVM ContextCleaner GCs them, which is timing-dependent).
    The audit's subject is what the algorithm UNDER TEST leaves behind,
    so the precondition must be enforced, not assumed."""
    it = spark.sparkContext._jsc.sc().getPersistentRDDs().iterator()  # noqa: SLF001
    while it.hasNext():
        it.next()._2().unpersist(False)


@pytest.fixture()
def clean_cache(spark):
    spark.catalog.clearCache()
    _purge_persistent_rdds(spark)
    assert _n_persistent_rdds(spark) == 0
    yield
    spark.catalog.clearCache()


def test_append_load_run_leaves_no_cache(spark, tmp_path, clean_cache):
    from m3d_engine_spark.operators.append_load import AppendLoad

    src = tmp_path / "landing"
    src.mkdir()
    (src / "data_20240101.psv").write_text("1|a\n2|b\n")
    schema = {
        "type": "struct",
        "fields": [
            {"name": "k", "type": "integer", "nullable": True, "metadata": {}},
            {"name": "v", "type": "string", "nullable": True, "metadata": {}},
            {"name": "year", "type": "integer", "nullable": True, "metadata": {}},
            {"name": "month", "type": "integer", "nullable": True, "metadata": {}},
            {"name": "day", "type": "integer", "nullable": True, "metadata": {}},
        ],
    }
    params = ParamsFile(
        {
            "source_dir": str(src),
            "target_location": str(tmp_path / "lake"),
            "file_format": "dsv",
            "delimiter": "|",
            "has_header": False,
            "schema": schema,
            "target_partitions": ["year", "month", "day"],
            "regex_filename": [
                "data_([0-9]{4})",
                "data_[0-9]{4}([0-9]{2})",
                "data_[0-9]{6}([0-9]{2})",
            ],
        }
    )
    AppendLoad(spark, params).run()
    assert _n_persistent_rdds(spark) == 0


def test_delta_load_run_leaves_no_cache(spark, tmp_path, clean_cache):
    from m3d_engine_spark.operators.delta_load import DeltaLoadAlgorithm as DeltaLoad

    delta_path = str(tmp_path / "delta")
    spark.createDataFrame(
        [
            Row(ts=1, k=1, v=10, date=20240101, recordmode="N"),
            Row(ts=2, k=2, v=20, date=20240102, recordmode=""),
        ]
    ).write.parquet(delta_path)
    spark.createDataFrame(
        [Row(k=3, v=30, date=20240101, year=2024, month=1, day=1)]
    ).write.mode("overwrite").partitionBy("year", "month", "day").saveAsTable(
        "audit_active"
    )
    params = ParamsFile(
        {
            "delta_records_file_path": delta_path,
            "active_records_table_lake": "audit_active",
            "business_key": ["k"],
            "technical_key": ["ts"],
            "target_partitions": ["year", "month", "day"],
            "partition_column": "date",
            "partition_column_format": "yyyyMMdd",
            "target_location": str(tmp_path / "out"),
            "load_mode": "OverwritePartitionsWithAddedColumns",
        }
    )
    try:
        DeltaLoad(spark, params).run()
        assert _n_persistent_rdds(spark) == 0
    finally:
        spark.sql("DROP TABLE IF EXISTS audit_active")


def test_full_materialization_to_cache_leaves_no_cache(spark, tmp_path, clean_cache):
    from m3d_engine_spark.operators.materialization import FullMaterialization

    spark.createDataFrame([Row(k=1, v="a"), Row(k=2, v="b")]).write.mode(
        "overwrite"
    ).saveAsTable("audit_src")
    params = ParamsFile(
        {
            "source_table": "audit_src",
            "target_dir": str(tmp_path / "mat"),
            "output_files_num": 1,
            "to_cache": True,
        }
    )
    try:
        FullMaterialization(spark, params).run()
        assert _n_persistent_rdds(spark) == 0
    finally:
        spark.sql("DROP TABLE IF EXISTS audit_src")


def test_delta_lake_load_run_leaves_no_cache(spark, tmp_path, clean_cache):
    from m3d_engine_spark.operators.delta_lake_load import DeltaLakeLoadAlgorithm as DeltaLakeLoad

    src = tmp_path / "raw"
    spark.createDataFrame(
        [
            Row(ts=1, k=1, v=10, date=20240101, recordmode="N"),
            Row(ts=1, k=2, v=20, date=20240102, recordmode="N"),
        ]
    ).coalesce(1).write.json(str(src))
    params = ParamsFile(
        {
            "source_location": str(src),
            "file_format": "json",
            "delta_table_dir": str(tmp_path / "delta_table"),
            "target_location": str(tmp_path / "lake"),
            "business_key": ["k"],
            "technical_key": ["ts"],
            "record_mode_column": "recordmode",
            "target_partitions": ["year", "month", "day"],
            "partition_column": "date",
            "partition_column_format": "yyyyMMdd",
            "load_mode": "OverwritePartitions",
        }
    )
    DeltaLakeLoad(spark, params).run()
    assert _n_persistent_rdds(spark) == 0


def test_expectations_check_run_leaves_no_cache(spark, tmp_path, clean_cache):
    """The report is read twice (written, then collected for the
    failed rules); repeated runs in one session must not pile up its
    checkpoint blocks."""
    from m3d_engine_spark.operators.expectations import ExpectationsCheckAlgorithm

    src = str(tmp_path / "src")
    spark.createDataFrame([Row(k=1), Row(k=2)]).write.parquet(src)
    for i in range(2):
        ExpectationsCheckAlgorithm(spark, ParamsFile({
            "source_location": src,
            "rules": {"k_positive": "k > 0"},
            "target_location": str(tmp_path / f"report{i}"),
        })).run()
        assert _n_persistent_rdds(spark) == 0
    rows = spark.read.parquet(str(tmp_path / "report1")).collect()
    assert [(r.rule, r.passed) for r in rows] == [("k_positive", 1)]


def test_fuzzy_dedup_runs_leave_no_cache(spark, tmp_path, clean_cache):
    """The LSH candidates, the verified edges and every
    connected-components checkpoint (edges, labels, one per round) go
    on the run's registry; repeated runs in one session must not pile
    them up."""
    from m3d_engine_spark.operators.fuzzy_dedup import FuzzyDedupAlgorithm

    src = str(tmp_path / "corpus")
    # ten clusters of three near copies (the last word differs)
    spark.createDataFrame(
        [
            Row(
                doc_id=10 * c + k,
                text=" ".join([f"c{c}w{j}" for j in range(10)] + [f"k{k}"]),
            )
            for c in range(10)
            for k in range(3)
        ]
    ).write.parquet(src)
    for i in range(2):
        FuzzyDedupAlgorithm(spark, ParamsFile({
            "source_location": src,
            "target_location": str(tmp_path / f"out{i}"),
        })).run()
        assert _n_persistent_rdds(spark) == 0
    out = spark.read.parquet(str(tmp_path / "out1"))
    assert sorted(r.cluster_size for r in out.collect()) == [3] * 10


def test_incremental_dedup_batch_runs_leave_no_cache(spark, tmp_path, clean_cache):
    """A batch run checkpoints its exact-dedup survivors (read by the
    band, verify and final anti-join consumers); repeated nightly
    batches in one session must not pile them up."""
    from m3d_engine_spark.operators.incremental import IncrementalDedupAlgorithm

    def write(path, rows):
        spark.createDataFrame(
            [
                Row(doc_id=i, text=" ".join([f"{tag}w{j}" for j in range(10)] + [tail]))
                for i, tag, tail in rows
            ]
        ).write.parquet(path)

    src, batch = str(tmp_path / "corpus"), str(tmp_path / "batch")
    write(src, [(c, f"c{c}", "old") for c in range(10)])
    # a near copy of every corpus document (the last word differs) and
    # three unseen documents
    write(batch, [(100 + c, f"c{c}", "new") for c in range(10)]
          + [(200 + u, f"u{u}", "new") for u in range(3)])
    arts = str(tmp_path / "arts")
    IncrementalDedupAlgorithm(spark, ParamsFile({
        "action": "materialize",
        "source_location": src,
        "artifact_location": arts,
    })).run()
    for i in range(3):
        IncrementalDedupAlgorithm(spark, ParamsFile({
            "source_location": batch,
            "artifact_location": arts,
            "target_location": str(tmp_path / f"out{i}"),
        })).run()
        assert _n_persistent_rdds(spark) == 0
    out = spark.read.parquet(str(tmp_path / "out2"))
    assert sorted(r.doc_id for r in out.collect()) == [200, 201, 202]
