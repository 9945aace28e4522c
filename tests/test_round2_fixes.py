"""Round-2 fix pins: atomic-write restore on induced failure, FullLoad
swap restore, DeltaLoad partition-safe write defaults, Hive partition
path escaping, merge-condition literal escaping, Hadoop-FS gzip.

Reference models: FullLoadTest.scala:400-471 (restore-on-failure),
DeltaLoadTest.scala partitioned-merge scenarios,
DeltaLoadConfiguration.scala:74-80 (hardwired load mode).
"""

from __future__ import annotations

import gzip
import os

import pytest
from pyspark.sql import functions as F

from m3d_engine_spark.config import ConfigError, ParamsFile
from m3d_engine_spark.operators.delta_load import DeltaLoadAlgorithm
from m3d_engine_spark.operators.delta_lake_load import merge_condition
from m3d_engine_spark.operators.gzip_decompressor import decompress_directory_hadoop
from m3d_engine_spark.sources import catalog as cat
from m3d_engine_spark.sources.dfs import DFS
from m3d_engine_spark.sources.writers import (
    AtomicWriter,
    LoadMode,
    partition_rel_path,
)


# ------------------------------------------------------ atomic protocol
class _Interrupt(BaseException):
    """Stands in for KeyboardInterrupt/SystemExit without stopping pytest."""


def test_atomic_writer_restores_on_induced_failure(spark, tmp_path, monkeypatch):
    """Make the tmp→final move throw after the backup ran; the old
    partition content must be restored (OutputWriter.scala:230-261),
    for an error and for an interrupt alike, and the temp dir removed."""
    base = spark.createDataFrame(
        [(1, "old1", 1), (2, "old2", 2)], "k int, v string, year int"
    )
    update = spark.createDataFrame([(2, "new2", 2)], "k int, v string, year int")
    orig_rename = DFS.rename
    for exc in (RuntimeError, _Interrupt):
        root = tmp_path / exc.__name__
        target = str(root / "t")
        writer = AtomicWriter(spark, target, partition_columns=["year"])
        writer.write(base, LoadMode.OVERWRITE_TABLE)

        def flaky(self, src, dst):
            if "__tmp_" in src:  # the move-into-place step
                raise exc("injected rename failure")
            return orig_rename(self, src, dst)

        monkeypatch.setattr(DFS, "rename", flaky)
        with pytest.raises(exc, match="injected"):
            writer.write(update, LoadMode.OVERWRITE_PARTITIONS)
        monkeypatch.setattr(DFS, "rename", orig_rename)

        rows = {tuple(r) for r in spark.read.parquet(target).collect()}
        assert rows == {(1, "old1", 1), (2, "old2", 2)}, (
            f"old data must survive the failed swap ({exc.__name__})"
        )
        assert not [p for p in os.listdir(root) if "__tmp_" in p]
        assert not [p for p in os.listdir(root) if "__bak_" in p]


def test_atomic_writer_keeps_backup_when_restore_rename_fails(
    spark, tmp_path, monkeypatch
):
    """A restore rename that returns False (HDFS/S3A report failure
    that way) leaves the backup as the only copy of the unit: it must
    survive, and the error must name it — an IOError chained to the
    commit failure, or a note on an interrupt, which keeps propagating.
    So must a unit the restore never heard of: the move into the backup
    finished, then an interrupt cut the commit before it was recorded."""
    base = spark.createDataFrame(
        [(1, "old1", 1), (2, "old2", 2)], "k int, v string, year int"
    )
    update = spark.createDataFrame([(2, "new2", 2)], "k int, v string, year int")
    orig_rename = DFS.rename

    def restore_fails(exc):
        def flaky(self, src, dst):
            if "__tmp_" in src:  # the move-into-place step
                raise exc("injected rename failure")
            if "__bak_" in src:  # the restore
                return False
            return orig_rename(self, src, dst)

        return flaky

    def interrupted_after_backup(self, src, dst):
        done = orig_rename(self, src, dst)
        if "__bak_" in dst:  # the move into the backup, already done
            raise _Interrupt("injected interrupt")
        return done

    cases = (
        ("error", restore_fails(RuntimeError), IOError),
        ("interrupt", restore_fails(_Interrupt), _Interrupt),
        ("unrecorded", interrupted_after_backup, _Interrupt),
    )
    for name, flaky, raised in cases:
        root = tmp_path / name
        target = str(root / "t")
        writer = AtomicWriter(spark, target, partition_columns=["year"])
        writer.write(base, LoadMode.OVERWRITE_TABLE)

        monkeypatch.setattr(DFS, "rename", flaky)
        with pytest.raises(raised) as err:
            writer.write(update, LoadMode.OVERWRITE_PARTITIONS)
        monkeypatch.setattr(DFS, "rename", orig_rename)
        if raised is IOError:
            assert isinstance(err.value.__cause__, RuntimeError)
            msg = str(err.value)
        else:
            msg = "\n".join(err.value.__notes__)
        (bak,) = [p for p in os.listdir(root) if "__bak_" in p]
        assert "restore failed" in msg and f"{bak}/year=2" in msg, msg
        kept = spark.read.parquet(str(root / bak / "year=2")).collect()
        assert [(r.k, r.v) for r in kept] == [(2, "old2")], name


def test_recreate_table_restore_with_saved_schema(spark, tmp_path):
    """Restore path works even when the table was already dropped by a
    failed first swap (ADVICE: catalog.py:46)."""
    loc = str(tmp_path / "data")
    df = spark.createDataFrame([(1, "a")], "k int, v string")
    df.write.parquet(loc)
    spark.sql("DROP TABLE IF EXISTS t_restore")
    spark.sql(f"CREATE TABLE t_restore (k int, v string) USING PARQUET LOCATION '{loc}'")
    saved = spark.table("t_restore").schema
    spark.sql("DROP TABLE t_restore")  # simulate: first swap dropped it, then failed
    cat.recreate_table_at_location(spark, "t_restore", loc, schema=saved)
    assert {tuple(r) for r in spark.table("t_restore").collect()} == {(1, "a")}
    spark.sql("DROP TABLE t_restore")


def test_full_materialization_restores_table_on_failed_swap(
    spark, tmp_path, monkeypatch
):
    """A swap whose CREATE fails after the DROP must put the table back
    on the previous version and remove the new version dir, as FullLoad
    does (FullLoad.scala:60-70)."""
    from m3d_engine_spark.operators.materialization import FullMaterialization

    base = tmp_path / "mat"
    old = str(base / "20200101_000000_UTC")
    spark.createDataFrame([(1, "old")], "k int, v string").write.parquet(old)
    spark.sql("DROP TABLE IF EXISTS t_mat_restore")
    spark.sql(
        f"CREATE TABLE t_mat_restore (k int, v string) USING PARQUET LOCATION '{old}'"
    )
    spark.createDataFrame([(2, "new")], "k int, v string").createOrReplaceTempView(
        "mat_restore_source"
    )
    orig = cat.recreate_table_at_location
    calls = []

    def failing_first(spark_, table, location, *args, **kwargs):
        calls.append(location)
        if len(calls) == 1:
            spark_.sql(f"DROP TABLE IF EXISTS {table}")
            raise RuntimeError("injected create failure")
        return orig(spark_, table, location, *args, **kwargs)

    monkeypatch.setattr(cat, "recreate_table_at_location", failing_first)
    algo = FullMaterialization(spark, ParamsFile({
        "source_table": "mat_restore_source",
        "target_dir": str(base),
        "target_table": "t_mat_restore",
    }))
    with pytest.raises(RuntimeError, match="injected"):
        algo.run()
    monkeypatch.setattr(cat, "recreate_table_at_location", orig)

    assert [tuple(r) for r in spark.table("t_mat_restore").collect()] == [(1, "old")]
    assert not os.path.exists(algo.next_location)
    spark.sql("DROP TABLE t_mat_restore")


# ------------------------------------------- DeltaLoad write defaults
def _delta_params(tmp_path, extra=None):
    p = {
        "delta_records_file_path": str(tmp_path / "delta"),
        "active_records_table_lake": "dl_active",
        "target_table": "dl_active",
        "business_key": ["k"],
        "technical_key": ["seq"],
        "record_mode_column": "recordmode",
        "target_partitions": ["year"],
        "partition_column": "d",
        "partition_column_format": "yyyyMMdd",
    }
    p.update(extra or {})
    return ParamsFile(p)


@pytest.fixture()
def delta_fixture(spark, tmp_path):
    spark.sql("DROP TABLE IF EXISTS dl_active")
    active = spark.createDataFrame(
        [(1, "a", 2020), (2, "b", 2020), (3, "c", 2021)], "k int, v string, year int"
    )
    active.write.mode("overwrite").partitionBy("year").saveAsTable("dl_active")
    delta = spark.createDataFrame(
        [
            (1, "a2", 2, "N", "20200105"),   # update k=1
            (2, "b", 2, "D", "20200105"),    # delete k=2
        ],
        "k int, v string, seq int, recordmode string, d string",
    )
    delta.write.mode("overwrite").parquet(str(tmp_path / "delta"))
    yield
    spark.sql("DROP TABLE IF EXISTS dl_active")


def test_delta_load_default_preserves_unaffected_partition(spark, tmp_path, delta_fixture):
    """With load_mode omitted, the partition-scoped merge must default to
    a partition overwrite: year=2021 (untouched by the delta) survives."""
    DeltaLoadAlgorithm(spark, _delta_params(tmp_path)).run()
    rows = {tuple(r) for r in spark.table("dl_active").collect()}
    assert rows == {(1, "a2", 2020), (3, "c", 2021)}


def test_delta_load_refuses_overwrite_table_when_scoped(spark, tmp_path, delta_fixture):
    algo = DeltaLoadAlgorithm(spark, _delta_params(tmp_path, {"load_mode": "OverwriteTable"}))
    with pytest.raises(ConfigError, match="unaffected partitions"):
        algo.run()


def test_delta_records_table_lake_alias(spark, tmp_path, delta_fixture):
    """Reference config key 'delta_records_table_lake' is accepted."""
    spark.read.parquet(str(tmp_path / "delta")).createOrReplaceTempView("dl_delta_v")
    p = _delta_params(tmp_path)
    del p.params["delta_records_file_path"]
    p.params["delta_records_table_lake"] = "dl_delta_v"
    DeltaLoadAlgorithm(spark, p).run()
    rows = {tuple(r) for r in spark.table("dl_active").collect()}
    assert rows == {(1, "a2", 2020), (3, "c", 2021)}


# --------------------------------------------------- path/SQL escaping
def test_partition_rel_path_matches_spark_dir_naming(spark, tmp_path):
    out = str(tmp_path / "esc")
    df = spark.createDataFrame([(1, "a:b c")], "k int, tag string")
    df.write.partitionBy("tag").parquet(out)
    written = [d for d in os.listdir(out) if d.startswith("tag=")]
    assert written == [partition_rel_path([("tag", "a:b c")])]


def test_partition_rel_path_null_and_bool():
    assert partition_rel_path([("year", None)]) == "year=__HIVE_DEFAULT_PARTITION__"
    assert partition_rel_path([("flag", True)]) == "flag=true"


def test_merge_condition_escapes_literals():
    cond = merge_condition(
        ["k"], [[("src", "O'Brien"), ("year", None)]]
    )
    assert "currentData.`src` <=> 'O''Brien'" in cond
    assert "currentData.`year` <=> NULL" in cond
    assert cond.startswith("(currentData.`k` <=> newData.`k`)")


def test_merge_condition_quotes_hostile_identifiers():
    # Column names with spaces/backticks must stay valid SQL (the
    # reference interpolates raw; we backtick-quote and double any
    # embedded backtick).
    cond = merge_condition(
        ["weird col"], [[("part`key", "v")]]
    )
    assert "currentData.`weird col` <=> newData.`weird col`" in cond
    assert "currentData.`part``key` <=> 'v'" in cond


# -------------------------------------------------- gzip over Hadoop FS
def test_gzip_decompress_via_dfs_wrapper(spark, tmp_path):
    d = tmp_path / "landing"
    d.mkdir()
    (d / "part1.csv.gz").write_bytes(gzip.compress(b"a|b\n1|2\n"))
    out = decompress_directory_hadoop(spark, f"file://{d}", thread_pool_size=2)
    assert len(out) == 1 and out[0].endswith("part1.csv")
    assert (d / "part1.csv").read_bytes() == b"a|b\n1|2\n"
    assert not (d / "part1.csv.gz").exists()


# ------------------------------------------- AppendLoad header grouping
def test_append_load_header_reuse_two_batches(spark, tmp_path):
    """Batch 1 persists header.json; batch 2 (schemaless params) must
    pick up the persisted header instead of inferring _c0/_c1 names
    (AppendLoad.scala:264-288, AppendLoadTest evolving-schema cases)."""
    from m3d_engine_spark.operators.append_load import AppendLoad

    target = str(tmp_path / "table")
    headers = str(tmp_path / "headers")
    land1 = tmp_path / "land1"
    land1.mkdir()
    (land1 / "data_2020.psv").write_text("1|x\n2|y\n")

    base = {
        "file_format": "dsv",
        "target_location": target,
        "header_dir": headers,
        "target_partitions": ["year"],
        "regex_filename": [r"data_(\d{4})"],
        "load_mode": "AppendUnionPartitions",
    }
    schema_json = {
        "type": "struct",
        "fields": [
            {"name": "k", "type": "integer", "nullable": True, "metadata": {}},
            {"name": "v", "type": "string", "nullable": True, "metadata": {}},
            {"name": "year", "type": "integer", "nullable": True, "metadata": {}},
        ],
    }
    AppendLoad(spark, ParamsFile({**base, "source_dir": str(land1), "schema": schema_json})).run()
    assert os.path.exists(os.path.join(headers, "year=2020", "header.json"))

    land2 = tmp_path / "land2"
    land2.mkdir()
    (land2 / "data_2020_b.psv").write_text("3|z\n")
    # no schema in params: must come from the persisted header
    AppendLoad(spark, ParamsFile({**base, "source_dir": str(land2)})).run()
    rows = {tuple(r) for r in spark.read.parquet(target).collect()}
    assert rows == {(1, "x", 2020), (2, "y", 2020), (3, "z", 2020)}


def test_append_load_verify_schema_rejects_mismatch(spark, tmp_path):
    from m3d_engine_spark.operators.append_load import AppendLoad

    land = tmp_path / "land"
    land.mkdir()
    (land / "data_2021.psv").write_text("1|x|extra\n")
    params = ParamsFile(
        {
            "file_format": "dsv",
            "source_dir": str(land),
            "target_location": str(tmp_path / "t2"),
            "target_partitions": ["year"],
            "regex_filename": [r"data_(\d{4})"],
            "verify_schema": True,
            "schema": {
                "type": "struct",
                "fields": [
                    {"name": "k", "type": "integer", "nullable": True, "metadata": {}},
                    {"name": "v", "type": "string", "nullable": True, "metadata": {}},
                    {"name": "year", "type": "integer", "nullable": True, "metadata": {}},
                ],
            },
        }
    )
    with pytest.raises(RuntimeError, match="Schema does not match"):
        AppendLoad(spark, params).run()


def test_append_load_empty_batch_default_date_format_headers(spark, tmp_path):
    """An empty landing batch with header_dir and a partition_column but
    no partition_column_format: the header pass derives the partitions
    with the same yyyy-MM-dd default as transform(), instead of
    raising a ConfigError after the write has committed."""
    from m3d_engine_spark.operators.append_load import AppendLoad

    land = tmp_path / "land"
    land.mkdir()
    (land / "empty.psv").write_text("")
    target = str(tmp_path / "table")
    AppendLoad(spark, ParamsFile({
        "file_format": "dsv",
        "source_dir": str(land),
        "target_location": target,
        "header_dir": str(tmp_path / "headers"),
        "target_partitions": ["year", "month", "day"],
        "partition_column": "d",
        "schema": {
            "type": "struct",
            "fields": [
                {"name": "k", "type": "integer", "nullable": True, "metadata": {}},
                {"name": "d", "type": "string", "nullable": True, "metadata": {}},
            ],
        },
    })).run()
    # no partition was written, so no header either
    assert not os.path.exists(tmp_path / "headers")


# ----------------------------------------- DeltaLakeLoad full lifecycle
def test_delta_lake_load_lifecycle_fallback(spark, tmp_path):
    """Init → merge → compaction → snapshot on the parquet fallback
    (DeltaLakeLoad.scala:59-120, 318-352): unaffected delta-dir
    partitions survive the merge; the lake snapshot carries only
    affected partitions; compaction caps the per-partition file count."""
    from m3d_engine_spark.operators.delta_lake_load import DeltaLakeLoadAlgorithm

    delta_dir = str(tmp_path / "delta_table")
    lake = str(tmp_path / "lake")
    src1 = str(tmp_path / "src1")
    src2 = str(tmp_path / "src2")
    base = {
        "delta_table_dir": delta_dir,
        "target_location": lake,
        "business_key": ["k"],
        "technical_key": ["seq"],
        "record_mode_column": "recordmode",
        "target_partitions": ["year"],
        "partition_column": "d",
        "partition_column_format": "yyyyMMdd",
        "compact_table": True,
        "output_partitions_num": 1,
    }
    init = spark.createDataFrame(
        [
            (1, "a", 1, None, "20200101"),
            (2, "b", 1, None, "20200101"),
            (3, "c", 1, None, "20210101"),
        ],
        "k int, v string, seq int, recordmode string, d string",
    )
    init.write.parquet(src1)
    DeltaLakeLoadAlgorithm(spark, ParamsFile({**base, "source_location": src1})).run()
    assert {tuple(r) for r in spark.read.parquet(delta_dir).select("k", "v", "year").collect()} == {
        (1, "a", 2020), (2, "b", 2020), (3, "c", 2021)
    }

    # merge: update k=1, delete k=2 — only year=2020 affected
    upd = spark.createDataFrame(
        [(1, "a2", 2, "N", "20200101"), (2, "b", 2, "D", "20200101")],
        "k int, v string, seq int, recordmode string, d string",
    )
    upd.write.parquet(src2)
    DeltaLakeLoadAlgorithm(spark, ParamsFile({**base, "source_location": src2})).run()

    delta_rows = {tuple(r) for r in spark.read.parquet(delta_dir).select("k", "v", "year").collect()}
    assert delta_rows == {(1, "a2", 2020), (3, "c", 2021)}, "unaffected year=2021 must survive"

    lake_rows = {tuple(r) for r in spark.read.parquet(lake).select("k", "v", "year").collect()}
    assert lake_rows == {(1, "a2", 2020), (3, "c", 2021)}

    # compaction: affected partition holds exactly 1 data file
    part_dir = os.path.join(delta_dir, "year=2020")
    files = [f for f in os.listdir(part_dir) if f.endswith(".parquet")]
    assert len(files) == 1, f"compaction should leave 1 file, saw {files}"


# ----------------------------------------------------- reader modes
def _mode_params(land, target, mode):
    return ParamsFile(
        {
            "source_dir": str(land),
            "file_format": "dsv",
            "reader_mode": mode,
            "target_location": str(target),
            "schema": {
                "type": "struct",
                "fields": [
                    {"name": "k", "type": "integer", "nullable": True, "metadata": {}},
                    {"name": "v", "type": "string", "nullable": True, "metadata": {}},
                ],
            },
        }
    )


def test_reader_modes_reference_scenarios(spark, tmp_path):
    """FullLoadTest's reader-mode axis: FAILFAST raises on malformed,
    DROPMALFORMED drops the bad row, PERMISSIVE nulls the bad field."""
    from m3d_engine_spark.operators.full_load import FullLoad

    land = tmp_path / "land"
    land.mkdir()
    (land / "data.psv").write_text("1|ok\nnotanint|bad\n3|ok3\n")

    out_drop = tmp_path / "out_drop"
    FullLoad(spark, _mode_params(land, out_drop, "DROPMALFORMED")).run()
    rows = {tuple(r) for r in spark.read.parquet(str(out_drop)).collect()}
    assert rows == {(1, "ok"), (3, "ok3")}

    out_perm = tmp_path / "out_perm"
    FullLoad(spark, _mode_params(land, out_perm, "PERMISSIVE")).run()
    rows = {tuple(r) for r in spark.read.parquet(str(out_perm)).collect()}
    assert rows == {(1, "ok"), (None, "bad"), (3, "ok3")}

    out_ff = tmp_path / "out_ff"
    with pytest.raises(Exception, match="(?i)malformed|failfast"):
        FullLoad(spark, _mode_params(land, out_ff, "FAILFAST")).run()


def test_invalid_reader_mode_rejected(spark, tmp_path):
    from m3d_engine_spark.sources.formats import validated_mode

    with pytest.raises(ValueError, match="invalid reader mode"):
        validated_mode("YOLO")


def test_append_load_update_statistics_runs(spark, tmp_path, delta_fixture):
    """compute_table_statistics=true triggers per-partition + table
    ANALYZE after a DeltaLoad (TableStatistics.scala:55-80 parity)."""
    DeltaLoadAlgorithm(
        spark, _delta_params(tmp_path, {"compute_table_statistics": True})
    ).run()
    # ANALYZE succeeded if stats exist for the table
    desc = spark.sql("DESCRIBE EXTENDED dl_active").collect()
    stats_rows = [r for r in desc if "Statistics" in (r.col_name or "")]
    assert stats_rows, "table-level statistics missing after ANALYZE"


# --------------------------------------- distributed gzip over file://
def test_gzip_decompress_distributed_file_uri(spark, tmp_path):
    """The RDD path must write through the file's own filesystem (not
    executor-local open()): against a file:// URI the outputs land next
    to the sources and the compressed originals are deleted."""
    from m3d_engine_spark.operators.gzip_decompressor import decompress_distributed

    d = tmp_path / "landing_dist"
    d.mkdir()
    (d / "a.csv.gz").write_bytes(gzip.compress(b"a|b\n1|2\n"))
    (d / "b.csv.gz").write_bytes(gzip.compress(b"a|b\n3|4\n"))
    out = sorted(decompress_distributed(spark, f"file://{d}"))
    assert [p.rsplit("/", 1)[1] for p in out] == ["a.csv", "b.csv"]
    assert (d / "a.csv").read_bytes() == b"a|b\n1|2\n"
    assert (d / "b.csv").read_bytes() == b"a|b\n3|4\n"
    assert not (d / "a.csv.gz").exists() and not (d / "b.csv.gz").exists()
