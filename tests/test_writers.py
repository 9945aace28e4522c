"""Load modes + atomic partition-overwrite protocol."""

import os
import uuid

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from m3d_engine_spark.sources import writers
from m3d_engine_spark.sources.writers import AtomicWriter, LoadMode
from tests.conftest import multiset_equal


def _write(spark, tmp, rows, partition_cols, mode, **kw):
    w = AtomicWriter(spark, tmp, partition_columns=partition_cols, **kw)
    w.write(spark.createDataFrame(rows), mode)
    return spark.read.parquet(tmp)


def test_overwrite_table(spark, tmp_path):
    tgt = str(tmp_path / "t")
    _write(spark, tgt, [Row(a=1)], [], LoadMode.OVERWRITE_TABLE)
    out = _write(spark, tgt, [Row(a=2)], [], LoadMode.OVERWRITE_TABLE)
    assert [r.a for r in out.collect()] == [2]


def test_overwrite_partitions_replaces_only_affected(spark, tmp_path):
    tgt = str(tmp_path / "t")
    _write(
        spark, tgt,
        [Row(k=1, year=2016), Row(k=2, year=2017)],
        ["year"], LoadMode.OVERWRITE_TABLE,
    )
    out = _write(spark, tgt, [Row(k=99, year=2017)], ["year"], LoadMode.OVERWRITE_PARTITIONS)
    rows = {r.year: r.k for r in out.collect()}
    assert rows == {2016: 1, 2017: 99}


def test_overwrite_partitions_with_added_columns(spark, tmp_path):
    tgt = str(tmp_path / "t")
    _write(
        spark, tgt,
        [Row(k=1, extra="e", year=2016)],
        ["year"], LoadMode.OVERWRITE_TABLE,
    )
    # new data lacks `extra` → padded with NULL to the on-disk schema
    out = _write(
        spark, tgt, [Row(k=5, year=2016)], ["year"],
        LoadMode.OVERWRITE_PARTITIONS_WITH_ADDED_COLUMNS,
    )
    r = out.collect()[0]
    assert (r.k, r.extra, r.year) == (5, None, 2016)


def test_append_union_partitions(spark, tmp_path):
    tgt = str(tmp_path / "t")
    _write(spark, tgt, [Row(k=1, year=2016), Row(k=2, year=2017)], ["year"], LoadMode.OVERWRITE_TABLE)
    out = _write(spark, tgt, [Row(k=3, year=2017)], ["year"], LoadMode.APPEND_UNION_PARTITIONS)
    expected = spark.createDataFrame([Row(k=1, year=2016), Row(k=2, year=2017), Row(k=3, year=2017)])
    assert multiset_equal(out.select("k", "year"), expected)


def test_append_join_partitions(spark, tmp_path):
    tgt = str(tmp_path / "t")
    _write(spark, tgt, [Row(k=1, a="old", year=2016)], ["year"], LoadMode.OVERWRITE_TABLE)
    out = _write(
        spark, tgt, [Row(k=1, b="new", year=2016)], ["year"], LoadMode.APPEND_JOIN_PARTITIONS
    )
    r = out.collect()[0]
    assert (r.k, r.a, r.b) == (1, "old", "new")


def test_output_files_num_controls_file_count(spark, tmp_path):
    tgt = str(tmp_path / "t")
    _write(
        spark, tgt, [Row(a=i) for i in range(100)], [],
        LoadMode.OVERWRITE_TABLE, output_files_num=3,
    )
    files = [f for f in os.listdir(tgt) if f.endswith(".parquet")]
    assert len(files) == 3


def test_partitioned_write_one_file_per_dir_aqe_sized_tasks(spark, tmp_path):
    """A partitioned write hashes rows on the partition columns: one
    file per partition dir, and ``output_files_num`` does not fix the
    write's task count — AQE coalesces the count-free exchange, so 30
    small dirs with n=10 run fewer than 10 write tasks."""
    tgt = str(tmp_path / "t")
    df = spark.range(0, 300, numPartitions=2).select(
        F.col("id").alias("k"), (F.col("id") % 30).alias("day")
    )
    sc = spark.sparkContext
    group = f"partitioned_write_{uuid.uuid4().hex}"
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "16")
    sc.setJobGroup(group, group)
    try:
        AtomicWriter(
            spark, tgt, partition_columns=["day"], output_files_num=10
        ).write(df, LoadMode.OVERWRITE_TABLE)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    dirs = sorted(d for d in os.listdir(tgt) if d.startswith("day="))
    assert len(dirs) == 30, dirs
    for d in dirs:
        files = [f for f in os.listdir(f"{tgt}/{d}") if f.endswith(".parquet")]
        assert len(files) == 1, (d, files)
    assert multiset_equal(spark.read.parquet(tgt).select("k", "day"), df)
    tracker = sc.statusTracker()
    ran = {
        sid: tracker.getStageInfo(sid).numCompletedTasks
        for jid in tracker.getJobIdsForGroup(group)
        for sid in tracker.getJobInfo(jid).stageIds
        if tracker.getStageInfo(sid) is not None
    }
    assert ran and max(ran.values()) < 10, ran


def test_empty_string_partition_value_commits(spark, tmp_path):
    """Spark writes '' partition values as __HIVE_DEFAULT_PARTITION__;
    the rename-based commit must target that directory, not 'col='
    (which raised FileNotFoundException mid-commit, or silently
    dropped the rows where rename returns false)."""
    tgt = str(tmp_path / "t")
    _write(
        spark, tgt,
        [Row(k=1, cust="a"), Row(k=2, cust="")],
        ["cust"], LoadMode.OVERWRITE_TABLE,
    )
    out = _write(
        spark, tgt, [Row(k=9, cust="")], ["cust"],
        LoadMode.OVERWRITE_PARTITIONS,
    )
    rows = {r.k: r.cust for r in out.collect()}
    # '' comes back as NULL (Hive default-partition round-trip)
    assert rows == {1: "a", 9: None}


def test_union_append_preserves_on_disk_only_columns(spark, tmp_path):
    """A batch missing a column that exists on disk must not destroy
    that column's data in the rewritten partitions."""
    tgt = str(tmp_path / "t")
    _write(
        spark, tgt,
        [Row(k=1, year=2016, address="x")],
        ["year"], LoadMode.OVERWRITE_TABLE,
    )
    df = spark.createDataFrame([Row(k=2, year=2016)])
    AtomicWriter(spark, tgt, partition_columns=["year"]).write(
        df, LoadMode.APPEND_UNION_PARTITIONS
    )
    rows = {r.k: r.address for r in spark.read.parquet(tgt).collect()}
    assert rows == {1: "x", 2: None}


def test_affected_criteria_delete_emptied_partition(spark, tmp_path):
    """A CDC delta that deletes every row of a partition produces zero
    output rows there; passing the delta's criteria must still rewrite
    (i.e. remove) the partition instead of leaving its stale rows."""
    tgt = str(tmp_path / "t")
    _write(
        spark, tgt,
        [Row(k=1, year=2016), Row(k=2, year=2017)],
        ["year"], LoadMode.OVERWRITE_TABLE,
    )
    merged = spark.createDataFrame([Row(k=99, year=2017)])
    AtomicWriter(spark, tgt, partition_columns=["year"]).write(
        merged,
        LoadMode.OVERWRITE_PARTITIONS,
        affected=[[("year", 2016)], [("year", 2017)]],
    )
    rows = {r.year: r.k for r in spark.read.parquet(tgt).collect()}
    assert rows == {2017: 99}  # 2016 emptied, not stale


def _failing_frame(spark):
    """A year-2016 row whose `k` raises when the write job runs. One
    partition: no sibling task is still writing when the job aborts."""
    return spark.createDataFrame([Row(k=1, year=2016)]).coalesce(1).withColumn(
        "k", F.expr("if(k > 0, raise_error('injected write failure'), k)")
    )


@pytest.mark.parametrize(
    "mode, partition_cols, affected",
    [
        pytest.param(LoadMode.OVERWRITE_TABLE, [], None, id="table"),
        pytest.param(LoadMode.OVERWRITE_TABLE, ["year"], None, id="table-partitioned"),
        pytest.param(
            LoadMode.OVERWRITE_PARTITIONS, ["year"], [[("year", 2016)]],
            id="partitions",
        ),
        # A partition mode on a non-partitioned target used to overwrite
        # the live dir in place: Spark deleted it before the job failed.
        pytest.param(
            LoadMode.OVERWRITE_PARTITIONS, [], None, id="partitions-unpartitioned-target",
        ),
    ],
)
def test_failed_write_keeps_previous_rows_and_leaves_no_swap_dirs(
    spark, tmp_path, mode, partition_cols, affected
):
    tgt = str(tmp_path / "t")
    before = [Row(k=7, year=2016), Row(k=8, year=2017)]
    _write(spark, tgt, before, partition_cols, LoadMode.OVERWRITE_TABLE)
    writer = AtomicWriter(spark, tgt, partition_columns=partition_cols)
    with pytest.raises(Exception, match="injected write failure"):
        writer.write(_failing_frame(spark), mode, affected=affected)
    rows = sorted((r.k, r.year) for r in spark.read.parquet(tgt).collect())
    assert rows == [(7, 2016), (8, 2017)]
    assert sorted(os.listdir(tmp_path)) == ["t"]


def test_frame_persisted_only_when_writer_collects_partitions(spark, tmp_path, monkeypatch):
    tgt = str(tmp_path / "t")
    _write(spark, tgt, [Row(k=1, year=2016)], ["year"], LoadMode.OVERWRITE_TABLE)
    batch = spark.createDataFrame([Row(k=2, year=2016)])
    calls = []
    for name in ("tracked_checkpoint", "unpersist_checkpoints"):
        real = getattr(writers, name)
        monkeypatch.setattr(
            writers, name,
            lambda *a, _real=real, _name=name: calls.append(_name) or _real(*a),
        )
    writer = AtomicWriter(spark, tgt, partition_columns=["year"])
    writer.write(batch, LoadMode.OVERWRITE_PARTITIONS, affected=[[("year", 2016)]])
    assert calls == []
    writer.write(batch, LoadMode.OVERWRITE_PARTITIONS)
    assert calls == ["tracked_checkpoint", "unpersist_checkpoints"]
    assert writer.last_affected == [[("year", 2016)]]


def test_write_output_append_join_collects_partitions_once(spark, monkeypatch):
    from m3d_engine_spark.config import ParamsFile

    calls = []
    real = writers.collect_partitions
    monkeypatch.setattr(
        writers, "collect_partitions", lambda *a: calls.append(a) or real(*a)
    )
    table = "t_writers_append_join_scan"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    try:
        spark.createDataFrame(
            [(1, "old", 2016), (2, "old", 2017)], "k INT, a STRING, year INT"
        ).write.partitionBy("year").saveAsTable(table)
        writers.write_output(
            spark,
            spark.createDataFrame([(1, "new", 2016)], "k INT, a STRING, year INT"),
            ParamsFile({
                "target_table": table,
                "target_partitions": ["year"],
                "load_mode": "AppendJoinPartitions",
            }),
        )
        spark.catalog.refreshTable(table)
        got = sorted((r.k, r.a, r.year) for r in spark.table(table).collect())
        # the join keys are every shared column: both 2016 rows survive
        assert got == [(1, "new", 2016), (1, "old", 2016), (2, "old", 2017)]
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")
    assert len(calls) == 1
