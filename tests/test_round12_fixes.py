"""Regression tests for the round-11 ADVICE findings.

Pins: the FuzzyDedup CLI dial validators reject JSON booleans —
``bool`` is an ``int`` subclass, so ``{"salt_size": true}`` would
otherwise coerce to ``int(True) == 1``, silently setting a threshold
that salts nearly every bucket (huge replication overhead) instead of
flagging the config typo; ``{"max_bucket_size": true}`` would likewise
cap every bucket at one row.
"""

import pytest

from m3d_engine_spark.config import ParamsFile
from m3d_engine_spark.operators.fuzzy_dedup import _positive_or_none
from m3d_engine_spark.plans.skew import salt_size_param


@pytest.mark.parametrize("bad", [True, False])
def test_salt_size_rejects_json_boolean(bad):
    p = ParamsFile({"salt_size": bad})
    with pytest.raises(ValueError, match="salt_size"):
        salt_size_param(p)


@pytest.mark.parametrize("bad", [True, False])
def test_positive_or_none_rejects_json_boolean(bad):
    p = ParamsFile({"max_bucket_size": bad})
    with pytest.raises(ValueError, match="max_bucket_size"):
        _positive_or_none(p, "max_bucket_size")


def test_salt_size_valid_forms_unchanged():
    assert salt_size_param(ParamsFile({})) == "auto"
    assert salt_size_param(ParamsFile({"salt_size": "auto"})) == "auto"
    assert salt_size_param(ParamsFile({"salt_size": "off"})) is None
    assert salt_size_param(ParamsFile({"salt_size": None})) is None
    assert salt_size_param(ParamsFile({"salt_size": 64})) == 64
    assert salt_size_param(ParamsFile({"salt_size": "64"})) == 64


def test_fse_parse_conditions_forms():
    """select_conditions accepts the reference's "col=value" strings
    (FixedSizeStringExtractorConfiguration.scala:95-99) and structured
    pairs; malformed strings raise."""
    import pytest

    from m3d_engine_spark.operators.fixed_size_extractor import parse_conditions

    assert parse_conditions(["year=2019", "month = 2"]) == [
        ("year", "2019"),
        ("month", "2"),
    ]
    assert parse_conditions([["year", 2019]]) == [("year", 2019)]
    with pytest.raises(ValueError, match="Wrong select condition"):
        parse_conditions(["year2019"])


def test_fse_parse_select_rules_date_arithmetic():
    """select_rules shift today by named periods and emit the criteria
    for the resulting date (FixedSizeStringExtractorConfiguration
    .scala:101-137): calendar-month clamping, ISO week, and the
    reference's period-must-be-a-partition check."""
    import datetime as dt

    import pytest

    from m3d_engine_spark.operators.fixed_size_extractor import parse_select_rules

    today = dt.date(2019, 3, 31)
    assert parse_select_rules(
        ["month-1"], ["year", "month", "day"], today
    ) == [("year", "2019"), ("month", "2"), ("day", "28")]
    assert parse_select_rules(["year+1"], ["year", "month"], today) == [
        ("year", "2020"),
        ("month", "3"),
    ]
    # ISO week pairing: 2019-01-01 is ISO week 1
    assert parse_select_rules(
        ["week-1"], ["year", "week"], dt.date(2019, 1, 8)
    ) == [("year", "2019"), ("week", "1")]
    with pytest.raises(ValueError, match="Unsupported period"):
        parse_select_rules(["day-1"], ["year", "month"], today)
    with pytest.raises(ValueError, match="Wrong select rule"):
        parse_select_rules(["fortnight-1"], ["year", "month", "day"], today)
    with pytest.raises(ValueError, match="Unsupported partitioning schema"):
        parse_select_rules(["day+0"], ["day"], today)


def test_partition_spec_value_reference_unit_cases():
    """RecoverPartitionsCustomTest's createParameterValue contract:
    strings quote, short/int stay bare. Documented divergences for the
    data-derived value domain: NULL maps to the addressable
    default-partition spec and booleans render bare (a
    boolean-partitioned table's metadata update must not crash after
    its data is already written)."""
    from m3d_engine_spark.sources.catalog import partition_spec_value

    assert partition_spec_value("theValue") == "'theValue'"
    assert partition_spec_value(2) == "2"
    assert partition_spec_value(4) == "4"
    assert partition_spec_value(None) == "'__HIVE_DEFAULT_PARTITION__'"
    assert partition_spec_value(True) == "true"
    assert partition_spec_value(False) == "false"
    # quoting safety the reference's UDF never had
    assert partition_spec_value("O'Brien") == "'O''Brien'"


def test_generate_add_partition_statements_reference_unit_case():
    """RecoverPartitionsCustomTest 'HiveQL statements Generation': the
    3-row country/district dataset yields exactly the reference's
    expected statements (modulo the engine's ', ' spec separator)."""
    from m3d_engine_spark.sources.catalog import generate_add_partition_statements

    criteria = [
        [("country", "portugal"), ("district", "porto")],
        [("country", "germany"), ("district", "herzogenaurach")],
        [("country", "portugal"), ("district", "coimbra")],
    ]
    got = {s.replace(", ", ",") for s in
           generate_add_partition_statements("test", criteria)}
    assert got == {
        "ALTER TABLE test ADD IF NOT EXISTS PARTITION(country='portugal',district='porto')",
        "ALTER TABLE test ADD IF NOT EXISTS PARTITION(country='germany',district='herzogenaurach')",
        "ALTER TABLE test ADD IF NOT EXISTS PARTITION(country='portugal',district='coimbra')",
    }


def test_fse_empty_select_rules_means_no_filter():
    """Reference parity (FixedSizeStringExtractorConfiguration
    .scala:105-106): an empty select_rules list yields NO criteria —
    a today-shaped filter here would silently drop all other data."""
    from m3d_engine_spark.operators.fixed_size_extractor import parse_select_rules

    assert parse_select_rules([], ["year", "month", "day"]) == []


def test_fse_pair_conditions_filter_without_target_partitions(spark, tmp_path):
    """Regression (session review): select_conditions must filter even
    when the config carries no target_partitions — the old pair-form
    surface never required one, and silently scanning everything turns
    a scoped extract into a full-table overwrite."""
    from m3d_engine_spark.config import ParamsFile
    from m3d_engine_spark.operators.fixed_size_extractor import (
        FixedSizeStringExtractorAlgorithm,
    )

    spark.createDataFrame(
        [("AAA 1", 2019), ("BBB 2", 2020)], "value string, year int"
    ).createOrReplaceTempView("fse_pairform_source")
    out = str(tmp_path / "out")
    FixedSizeStringExtractorAlgorithm(
        spark,
        ParamsFile(
            {
                "source_table": "fse_pairform_source",
                "source_field": "value",
                "substring_positions": ["1,3", "5,5"],
                "target_fields": ["tag", "num"],
                "target_types": ["string", "int"],
                "select_conditions": [["year", 2019]],
                "target_location": out,
            }
        ),
    ).run()
    rows = spark.read.parquet(out).collect()
    assert [(r.tag, r.num) for r in rows] == [("AAA", 1)]


def test_gzip_bz2_and_xz_roundtrip(spark, tmp_path):
    """The no-codec guard must not reject codecs the engine implements:
    bz2 and xz landing files decompress in place like gz."""
    import bz2
    import lzma

    from m3d_engine_spark.operators.gzip_decompressor import (
        decompress_directory_hadoop,
    )

    landing = tmp_path / "landing"
    landing.mkdir()
    (landing / "a.psv.bz2").write_bytes(bz2.compress(b"1|x\n2|y\n"))
    (landing / "b.psv.xz").write_bytes(lzma.compress(b"3|z\n"))
    out = sorted(decompress_directory_hadoop(spark, f"file://{landing}"))
    assert [p.rsplit("/", 1)[1] for p in out] == ["a.psv", "b.psv"]
    assert (landing / "a.psv").read_bytes() == b"1|x\n2|y\n"
    assert (landing / "b.psv").read_bytes() == b"3|z\n"
    assert not (landing / "a.psv.bz2").exists()


def test_condense_records_to_condense_placement(spark):
    """DeltaLakeLoad.scala:174-178: the records_to_condense filter runs
    AFTER ranking — a business key whose NEWEST record carries an
    excluded record mode is dropped entirely, not replaced by rank 2."""
    from m3d_engine_spark.operators.delta_load import condense

    df = spark.createDataFrame(
        [
            (1, 10, "N"), (1, 20, "X"),   # newest is excluded -> key dropped
            (2, 10, "U"), (2, 5, "X"),    # newest is kept -> survives
        ],
        "k int, ts int, recordmode string",
    )
    out = condense(
        df, ["k"], ["ts"], record_mode_column="recordmode",
        records_to_condense=["N", "U"],
    ).collect()
    assert [(r.k, r.ts, r.recordmode) for r in out] == [(2, 10, "U")]


def test_delta_lake_condensation_dials(spark, tmp_path):
    """init_condensation=false passes raw new data through on init;
    records_to_delete replaces the R/D/X delete set."""
    from m3d_engine_spark.operators.delta_lake_load import DeltaLakeLoadAlgorithm

    src = tmp_path / "src"
    spark.createDataFrame(
        [(1, 100, "N"), (1, 200, "N"), (2, 100, "Z")],
        "k int, ts int, recordmode string",
    ).write.parquet(str(src))

    # default init condensation keeps one row per key; with the dial off
    # both rows of k=1 land
    out_on = str(tmp_path / "lake_on")
    DeltaLakeLoadAlgorithm(
        spark,
        ParamsFile(
            {
                "source_location": str(src),
                "business_key": ["k"],
                "technical_key": ["ts"],
                "target_location": out_on,
            }
        ),
    ).run()
    assert spark.read.parquet(out_on).count() == 2

    out_off = str(tmp_path / "lake_off")
    DeltaLakeLoadAlgorithm(
        spark,
        ParamsFile(
            {
                "source_location": str(src),
                "business_key": ["k"],
                "technical_key": ["ts"],
                "target_location": out_off,
                "init_condensation": False,
            }
        ),
    ).run()
    assert spark.read.parquet(out_off).count() == 3

    # custom records_to_delete: 'Z' becomes a delete mode, dropped on init
    out_z = str(tmp_path / "lake_z")
    DeltaLakeLoadAlgorithm(
        spark,
        ParamsFile(
            {
                "source_location": str(src),
                "business_key": ["k"],
                "technical_key": ["ts"],
                "target_location": out_z,
                "records_to_delete": ["Z"],
            }
        ),
    ).run()
    rows = spark.read.parquet(out_z).collect()
    # technical keys + record mode are projected away on init
    assert [r.k for r in rows] == [1]


def test_business_key_match_operator():
    """business_key_match_operator=OR joins the key equalities with OR
    in the Delta merge condition (DeltaLakeLoadConfiguration.scala:42-43);
    anything but AND/OR raises."""
    import pytest

    from m3d_engine_spark.operators.delta_lake_load import merge_condition

    c = merge_condition(["a", "b"], operator="OR")
    assert c == "(currentData.`a` <=> newData.`a` OR currentData.`b` <=> newData.`b`)"
    assert merge_condition(["a"], operator="AND") == "currentData.`a` <=> newData.`a`"
    with pytest.raises(ValueError, match="AND or OR"):
        merge_condition(["a"], operator="XOR")


def test_merge_delta_or_operator(spark):
    """Fallback merge with OR matching: an active row matching the delta
    on EITHER key is replaced."""
    from m3d_engine_spark.operators.delta_load import merge_delta

    active = spark.createDataFrame(
        [(1, "x", "old1"), (9, "y", "old2"), (5, "z", "old3")],
        "k1 int, k2 string, v string",
    )
    delta = spark.createDataFrame(
        [(1, "q", 10, "N", "new1"), (8, "z", 11, "N", "new2")],
        "k1 int, k2 string, ts int, recordmode string, v string",
    )
    out = merge_delta(
        active, delta.drop("ts"), ["k1", "k2"], match_operator="OR"
    ).collect()
    got = sorted((r.k1, r.k2, r.v) for r in out)
    # (1,x) matched on k1; (5,z) matched on k2; only (9,y) survives
    assert got == [(1, "q", "new1"), (8, "z", "new2"), (9, "y", "old2")]


def test_full_load_base_data_dir_version_naming(spark, tmp_path):
    """FullLoad table mode with the reference's base_data_dir layout:
    versions are siblings named <base_data_dir>_<stamp> under the table
    root (HadoopLoadHelper.buildTimestampedTablePath)."""
    import os
    import re

    from m3d_engine_spark.operators.full_load import FullLoad

    root = tmp_path / "tbl_root"
    loc = str(root / "data_20200101000000000")
    spark.createDataFrame([(1, "a")], "k int, v string").write.parquet(loc)
    spark.sql("DROP TABLE IF EXISTS bdd_tbl")
    spark.sql(f"CREATE TABLE bdd_tbl (k int, v string) USING PARQUET LOCATION '{loc}'")

    src = str(tmp_path / "landing")
    spark.createDataFrame([(2, "b"), (3, "c")], "k int, v string").write.parquet(src)
    FullLoad(
        spark,
        ParamsFile(
            {
                "source_dir": src,
                "file_format": "parquet",
                "target_table": "bdd_tbl",
                "base_data_dir": "data/",
            }
        ),
    ).run()
    assert spark.table("bdd_tbl").count() == 2
    entries = os.listdir(root)
    assert len(entries) == 1 and re.fullmatch(r"data_\d{17}", entries[0]), entries
    spark.sql("DROP TABLE bdd_tbl")


def test_full_load_derived_columns_and_corrupt_record(spark, tmp_path):
    """Catalog-schema derivation parity (getSchemaSafely):
    FAILFAST drops derived-name columns (year/month/day/week) from the
    read schema by default; drop_date_derived_columns=false keeps them;
    PERMISSIVE + add_corrupt_record_column appends _corrupt_record and
    captures the malformed raw line."""
    from m3d_engine_spark.operators.full_load import FullLoad

    loc = str(tmp_path / "t")
    spark.createDataFrame(
        [(1, "a", 2020)], "k int, v string, week int"
    ).write.parquet(loc)
    spark.sql("DROP TABLE IF EXISTS ddc_tbl")
    spark.sql(
        f"CREATE TABLE ddc_tbl (k int, v string, week int) USING PARQUET LOCATION '{loc}'"
    )
    landing = tmp_path / "landing"
    landing.mkdir()
    (landing / "d.psv").write_text("1|a|5\nBADKEY|b|9\n")

    base = {
        "source_dir": str(landing),
        "file_format": "dsv",
        "delimiter": "|",
        "has_header": False,
        "target_table": "ddc_tbl",
    }
    algo = FullLoad(spark, ParamsFile(base))
    df = algo.read()[0]
    assert df.columns == ["k", "v"]  # week dropped under FAILFAST default

    algo2 = FullLoad(spark, ParamsFile({**base, "drop_date_derived_columns": False}))
    assert algo2.read()[0].columns == ["k", "v", "week"]

    algo3 = FullLoad(
        spark,
        ParamsFile(
            {**base, "reader_mode": "PERMISSIVE", "add_corrupt_record_column": True}
        ),
    )
    df3 = algo3.read()[0]
    # PERMISSIVE keeps derived-name columns by default (the reference's
    # isDropDerivedColumns defaults true only under FAILFAST)
    assert df3.columns == ["k", "v", "week", "_corrupt_record"]
    bad = [r for r in df3.collect() if r._corrupt_record is not None]
    assert len(bad) == 1 and "BADKEY" in bad[0]._corrupt_record
    spark.sql("DROP TABLE ddc_tbl")


def test_full_materialization_sorting_ignore_override(spark, tmp_path):
    """sorting_ignore_folder_names overrides the non-version token list
    (MaterializationConfiguration.scala:89-92): a stray dir that sorts
    above every version stamp poisons retention unless ignored."""
    from m3d_engine_spark.operators.materialization import FullMaterialization

    spark.createDataFrame([(1,)], "k int").createOrReplaceTempView("sio_source")
    base = tmp_path / "data"
    base.mkdir()
    for d in ("20200103_114329_UTC", "20200201_103210_UTC", "zzz_manual"):
        (base / d).mkdir()
        (base / d / "f.parquet").touch()

    params = {
        "source_table": "sio_source",
        "target_dir": str(base),
        "target_partitions": [],
        "num_versions_to_retain": 1,
        "sorting_ignore_folder_names": [
            "_$folder$", "=", ".parquet", "_SUCCESS", "_tmp_", "zzz",
        ],
    }
    algo = FullMaterialization(spark, ParamsFile(params))
    algo.run()
    remaining = sorted(p.name for p in base.iterdir())
    v = algo.next_location.rsplit("/", 1)[1]
    # zzz_manual is no version: cleaned as a leftover; newest real
    # version + the new one retained
    assert remaining == sorted(["20200201_103210_UTC", v]), remaining


def test_merge_delta_empty_delete_set_and_bad_operator(spark):
    """Second-review regressions: records_to_delete=[] means NOTHING is
    a delete (not 'use the default set'); an invalid match operator
    raises on the fallback backend exactly like the delta-spark one."""
    import pytest

    from m3d_engine_spark.operators.delta_load import merge_delta

    active = spark.createDataFrame([(1, "old")], "k int, v string")
    delta = spark.createDataFrame(
        [(1, "R", "kept")], "k int, recordmode string, v string"
    )
    # default semantics: R is a delete -> row vanishes
    out_default = merge_delta(active, delta, ["k"]).collect()
    assert out_default == []
    # explicit []: R is NOT a delete -> row upserts
    out_empty = merge_delta(active, delta, ["k"], records_to_delete=[]).collect()
    assert [(r.k, r.v) for r in out_empty] == [(1, "kept")]
    with pytest.raises(ValueError, match="AND or OR"):
        merge_delta(active, delta, ["k"], match_operator="XOR")


def test_delta_lake_empty_records_to_delete_config(spark, tmp_path):
    """The algorithm-level config {'records_to_delete': []} must reach
    the init filter as an empty set: delete-mode rows survive."""
    from m3d_engine_spark.operators.delta_lake_load import DeltaLakeLoadAlgorithm

    src = tmp_path / "src"
    spark.createDataFrame(
        [(1, 100, "R")], "k int, ts int, recordmode string"
    ).write.parquet(str(src))
    out = str(tmp_path / "lake")
    DeltaLakeLoadAlgorithm(
        spark,
        ParamsFile(
            {
                "source_location": str(src),
                "business_key": ["k"],
                "technical_key": ["ts"],
                "target_location": out,
                "records_to_delete": [],
            }
        ),
    ).run()
    assert spark.read.parquet(out).count() == 1
