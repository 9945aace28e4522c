"""Regression tests for the round-12 ADVICE findings.

Pins:
- FullLoad leftover cleanup deletes ONLY engine version artifacts
  (stamped dirs / $folder$ markers), never unrelated sibling datasets
  sharing the table root — the round-12 code deleted every entry except
  the new version dir once the previous location's name looked stamped,
  which on a flat onboarded table with a shared parent would wipe other
  tables on the second run.
- The PERMISSIVE corrupt-record schema field follows the EFFECTIVE
  columnNameOfCorruptRecord reader option, not the literal
  '_corrupt_record'.
- bench.py's single-sweep lock is an flock the kernel drops when the
  holder exits: a live holder refuses a second sweep, a dead one never
  leaves a stale lock.
"""

import os
import re

import pytest

from m3d_engine_spark.config import ParamsFile


def _mk_table(spark, name, loc, rows):
    spark.createDataFrame(rows, "k int, v string").write.parquet(loc)
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    spark.sql(
        f"CREATE TABLE {name} (k int, v string) USING PARQUET LOCATION '{loc}'"
    )


def test_full_load_cleanup_spares_sibling_datasets(spark, tmp_path):
    """The ADVICE scenario: a flat onboarded table whose dir name looks
    stamped, base_data_dir configured, shared root. Run 1 versions it;
    run 2 sees the stamped previous name and runs cleanup — which must
    remove only data_<stamp> leftovers, not the sibling dataset."""
    from m3d_engine_spark.operators.full_load import FullLoad

    root = tmp_path / "shared_db_root"
    # the sibling dataset that must survive
    sibling = str(root / "customers")
    spark.createDataFrame([(9, "s")], "k int, v string").write.parquet(sibling)
    # flat table whose own dir name carries a stamp-looking token
    _mk_table(spark, "flat_tbl", str(root / "orders_20200101_000000"), [(1, "a")])
    # plus a stray leftover version dir from a "crashed" earlier load,
    # and a stray non-version file — only the former may be cleaned
    (root / "data_20190101000000000").mkdir()
    (root / "data_20190101000000000_$folder$").write_text("")
    (root / "notes.txt").write_text("keep me")

    src = str(tmp_path / "landing")
    spark.createDataFrame([(2, "b")], "k int, v string").write.parquet(src)
    params = {
        "source_dir": src,
        "file_format": "parquet",
        "target_table": "flat_tbl",
        "base_data_dir": "data",
    }
    FullLoad(spark, ParamsFile(params)).run()
    # run 1: previous location was flat -> no cleanup; version dir made
    entries = set(os.listdir(root))
    assert "customers" in entries and "notes.txt" in entries

    FullLoad(spark, ParamsFile(params)).run()
    entries = set(os.listdir(root))
    # run 2: previous name data_<17 digits> -> versioned layout ->
    # cleanup ran. The sibling dataset and the stray file survive; the
    # old version dirs, the crash leftover, and its $folder$ marker are
    # gone; exactly one live version remains.
    assert "customers" in entries, entries
    assert "notes.txt" in entries, entries
    assert "data_20190101000000000" not in entries
    assert "data_20190101000000000_$folder$" not in entries
    versions = [e for e in entries if re.fullmatch(r"data_\d{17}", e)]
    assert len(versions) == 1
    assert spark.table("flat_tbl").count() == 1
    spark.sql("DROP TABLE flat_tbl")


def test_full_load_cleanup_target_dir_scheme(spark, tmp_path):
    """target_dir layout (YYYYmmdd_HHMMSS version names): cleanup keeps
    non-stamped entries even though versioned_layout is explicit."""
    from m3d_engine_spark.operators.full_load import FullLoad

    vroot = tmp_path / "versions"
    loc = str(vroot / "20200101_000000")
    _mk_table(spark, "vd_tbl", loc, [(1, "a")])
    (vroot / "README").write_text("not a version")
    (vroot / "20190101_000000").mkdir()  # stale leftover

    src = str(tmp_path / "landing2")
    spark.createDataFrame([(2, "b")], "k int, v string").write.parquet(src)
    FullLoad(
        spark,
        ParamsFile(
            {
                "source_dir": src,
                "file_format": "parquet",
                "target_table": "vd_tbl",
                "target_dir": str(vroot),
            }
        ),
    ).run()
    entries = set(os.listdir(vroot))
    assert "README" in entries, entries
    assert "20190101_000000" not in entries
    assert len([e for e in entries if re.fullmatch(r"\d{8}_\d{6}", e)]) == 1
    spark.sql("DROP TABLE vd_tbl")


def test_corrupt_record_column_custom_name(spark, tmp_path):
    """A user-supplied columnNameOfCorruptRecord names the appended
    schema field too — malformed raw lines land in THAT column."""
    from m3d_engine_spark.operators.full_load import FullLoad

    loc = str(tmp_path / "t")
    _mk_table(spark, "ccn_tbl", loc, [(1, "a")])
    landing = tmp_path / "landing"
    landing.mkdir()
    (landing / "d.psv").write_text("1|a\nBADKEY|b|extra|cols\n")

    algo = FullLoad(
        spark,
        ParamsFile(
            {
                "source_dir": str(landing),
                "file_format": "dsv",
                "delimiter": "|",
                "has_header": False,
                "target_table": "ccn_tbl",
                "reader_mode": "PERMISSIVE",
                "add_corrupt_record_column": True,
                "columnNameOfCorruptRecord": "badrow",
            }
        ),
    )
    df = algo.read()[0]
    assert "badrow" in df.columns and "_corrupt_record" not in df.columns
    bad = [r for r in df.collect() if r.badrow is not None]
    assert len(bad) == 1 and "BADKEY" in bad[0].badrow
    spark.sql("DROP TABLE ccn_tbl")


# ---------------------------------------------------------------- bench lock


def test_bench_flock_refuses_second_holder(tmp_path):
    """A second open file description holding the flock makes the
    acquire refuse with the exit code bench.main returns."""
    import fcntl

    import bench

    lock = str(tmp_path / ".bench.lock")
    with open(lock, "w") as holder:
        fcntl.flock(holder, fcntl.LOCK_EX | fcntl.LOCK_NB)
        assert bench.acquire_bench_lock(lock) == 3


def test_bench_flock_free_after_holder_exits(tmp_path):
    """A lock taken by a process that has since exited is free: the
    kernel dropped it with the process, no reclaim step needed."""
    import subprocess
    import sys

    import bench

    lock = str(tmp_path / ".bench.lock")
    subprocess.run(
        [sys.executable, "-c",
         "import fcntl, sys; fh = open(sys.argv[1], 'w'); "
         "fcntl.flock(fh, fcntl.LOCK_EX | fcntl.LOCK_NB)", lock],
        check=True,
    )
    try:
        assert bench.acquire_bench_lock(lock) == 0
    finally:
        bench._lock_fh.close()
        bench._lock_fh = None


def test_pipeline_report_write_failure_does_not_mask_step_error(
    spark, tmp_path
):
    """An unwritable report_location must never replace the step
    failure with the write error; on a successful chain the write
    error is the only failure and does propagate."""
    import m3d_engine_spark.cli  # noqa: F401 (populates the registry)
    from m3d_engine_spark.operators.base import REGISTRY

    # parent of report path is a FILE -> parquet write must fail
    blocker = tmp_path / "blocker"
    blocker.write_text("x")
    bad_report = str(blocker / "report")

    def _run(params):
        REGISTRY["Pipeline"](spark, ParamsFile(params)).run()

    with pytest.raises(Exception, match="boom_missing_tbl"):
        _run({
            "report_location": bad_report,
            "steps": [{"algorithm": "SQLRunner", "params": {
                "statements": ["SELECT * FROM boom_missing_tbl"]}}],
        })
    with pytest.raises(Exception, match="(?i)parquet|path|exist|file"):
        _run({
            "report_location": bad_report,
            "steps": [{"algorithm": "SQLRunner", "params": {
                "statements": ["SELECT 1"]}}],
        })


def test_full_load_cleanup_multi_segment_base_data_dir(spark, tmp_path):
    """base_data_dir='archive/data': versions live at
    <root>/archive/data_<stamp>; cleanup lists <root>/archive (bare
    child names) and must match on the FINAL segment — the full
    'archive/data_...' pattern could never match and silently
    disabled cleanup."""
    from m3d_engine_spark.operators.full_load import FullLoad

    root = tmp_path / "tbl_root"
    _mk_table(
        spark, "ms_tbl", str(root / "archive" / "data_20200101000000000"),
        [(1, "a")],
    )
    # stale leftover + a non-version sibling in the version root
    (root / "archive" / "data_20190101000000000").mkdir(parents=True)
    (root / "archive" / "unrelated").mkdir()

    src = str(tmp_path / "landing")
    spark.createDataFrame([(2, "b")], "k int, v string").write.parquet(src)
    FullLoad(
        spark,
        ParamsFile({
            "source_dir": src,
            "file_format": "parquet",
            "target_table": "ms_tbl",
            "base_data_dir": "archive/data",
        }),
    ).run()
    entries = set(os.listdir(root / "archive"))
    assert "unrelated" in entries, entries
    assert "data_20190101000000000" not in entries, entries
    assert len([e for e in entries if re.fullmatch(r"data_\d{17}", e)]) == 1
    spark.sql("DROP TABLE ms_tbl")


# ------------------------------------------------------- third review pass


def test_get_optional_int_guard():
    """The shared ParamsFile integer guard: JSON booleans, garbage
    strings, floats, and below-minimum values all raise NAMING the
    key; valid ints and int-strings pass."""
    from m3d_engine_spark.config import ConfigError, ParamsFile

    p = ParamsFile({"n": 5, "s": "7", "b": True, "g": "eight", "f": 2.5})
    assert p.get_optional_int("n", 1) == 5
    assert p.get_optional_int("s", 1) == 7
    assert p.get_optional_int("missing", 9) == 9
    for key in ("b", "g", "f"):
        with pytest.raises(ConfigError, match=key):
            p.get_optional_int(key, 1)
    with pytest.raises(ConfigError, match="n.*>= 10"):
        p.get_optional_int("n", 1, minimum=10)
    with pytest.raises(ConfigError, match="boolean"):
        ParamsFile({"k": True}).get_int("k")


def test_md5_window_occ_rejects_zero_span(spark):
    """span_tokens=0 would hash md5('') at every position (incl. one
    past the end) and scrub every document to empty — the shared
    projection raises instead."""
    from m3d_engine_spark.operators.dedup import md5_window_occ

    docs = spark.createDataFrame([(1, "a b c")], "doc_id int, text string")
    with pytest.raises(ValueError, match="span_tokens"):
        md5_window_occ(docs, "doc_id", "text", 0)


def test_decontaminate_cli_mode_conflicts(spark, tmp_path):
    """Ambiguous mode combinations raise instead of silently ignoring
    one of the conflicting keys."""
    import m3d_engine_spark.cli  # noqa: F401
    from m3d_engine_spark.config import ConfigError, ParamsFile
    from m3d_engine_spark.operators.base import REGISTRY

    base = {"source_location": "x", "target_location": "y"}
    with pytest.raises(ConfigError, match="mutually exclusive"):
        REGISTRY["Decontaminate"](
            spark,
            ParamsFile({**base, "materialize_probe_artifact": True,
                        "probe_artifact_location": "a", "probe_location": "p"}),
        ).run()
    with pytest.raises(ConfigError, match="ambiguous"):
        REGISTRY["Decontaminate"](
            spark,
            ParamsFile({**base, "probe_artifact_location": "a",
                        "probe_location": "p"}),
        ).run()
    # materialize to a table-only target: the _meta.json sidecar has
    # nowhere to live
    with pytest.raises(ConfigError, match="target_location"):
        REGISTRY["Decontaminate"](
            spark,
            ParamsFile({"materialize_probe_artifact": True,
                        "probe_location": str(tmp_path / "nope"),
                        "target_table": "t"}),
        ).run()


@pytest.mark.slow
def test_decontaminate_artifact_meta_guards_span_tokens(spark, tmp_path):
    """The artifact's _meta.json is the span_tokens source of truth:
    a scrub with no explicit dial adopts it, a CONFLICTING explicit
    dial raises — never the silent match-nothing no-op."""
    import json

    from m3d_engine_spark.config import ConfigError, ParamsFile
    from m3d_engine_spark.operators.base import REGISTRY

    bench5 = "m n o p q"  # 5 tokens
    train_loc, probe_loc = str(tmp_path / "train"), str(tmp_path / "probe")
    spark.createDataFrame(
        [(1, f"pre {bench5} post")], "doc_id int, text string"
    ).write.parquet(train_loc)
    spark.createDataFrame(
        [(9, bench5)], "doc_id int, text string"
    ).write.parquet(probe_loc)
    art_loc = str(tmp_path / "art")
    REGISTRY["Decontaminate"](spark, ParamsFile({
        "materialize_probe_artifact": True,
        "probe_location": probe_loc,
        "span_tokens": 5,
        "target_location": art_loc,
    })).run()
    assert json.loads((tmp_path / "art" / "_meta.json").read_text()) == {
        "kind": "probe_gram_artifact", "span_tokens": 5,
    }
    # no explicit dial -> adopts the artifact's 5 (default 8 would
    # match nothing); the scrub actually removes the benchmark run
    out = str(tmp_path / "scrubbed")
    REGISTRY["Decontaminate"](spark, ParamsFile({
        "source_location": train_loc,
        "probe_artifact_location": art_loc,
        "target_location": out,
    })).run()
    rows = spark.read.parquet(out).collect()
    assert rows[0].clean_text == "pre post" and rows[0].n_removed == 5
    # explicit conflicting dial -> loud error
    with pytest.raises(ConfigError, match="baked-in"):
        REGISTRY["Decontaminate"](spark, ParamsFile({
            "source_location": train_loc,
            "probe_artifact_location": art_loc,
            "span_tokens": 8,
            "target_location": str(tmp_path / "never"),
        })).run()
