import os

import pytest

from m3d_engine_spark.session import build_session

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

# The slow lane (~14 min wall) cannot finish under a 600 s per-command
# cap, so it splits into sub-lanes balanced from measured per-file
# durations: `-m "slow and lane_a"` / `lane_b` / `lane_c` / `lane_d`.
# Files not listed below default to lane_d (new slow files: re-balance
# when any lane nears 300 s wall). Plain `-m slow` runs everything.
# Round-12 re-lane (four sub-lanes, measured call+setup seconds in
# parens; each lane ≈195 s of test time + ~35 s session startup):
_LANE_FILES = {
    "lane_a": {
        "test_round7_ops.py",        # 106.7
        "test_quantization.py",      # 81.8
        "test_suffix.py",            # ~25 (slow-marked subset; r13)
        "test_streaming_nightly_ingest.py",  # ~48 (r15)
        "test_round6_fixes.py",      # 3.3
    },
    "lane_b": {
        "test_plans.py",             # 100.4
        "test_auto_salt.py",         # 62.7
        "test_graph.py",             # 28.6
        "test_suffix_incremental.py",  # ~100 (slow subset; r15)
        "test_multimodal_streaming.py",  # 3.6
    },
    "lane_c": {
        "test_dedup_similarity.py",  # 108.5
        "test_algorithms.py",        # 55.2
        "test_selection_anomaly.py", # 29.6
        "test_suffix_cli.py",        # ~22 (slow subset; r14)
        "test_curation_chunking.py", # 4.5
        "test_codegen_cache.py",     # ~25 (slow subset)
    },
    # lane_d (the default for unlisted slow files):
    #   test_reference_golden.py (69.3), test_streaming_incremental.py
    #   (52.3), test_hive_catalog.py (37.0), test_dedup_artifacts.py
    #   (33.7), test_streaming_decontaminate.py (~22, r14)
    #   + anything new until the next re-lane
}
_FILE_LANE = {f: lane for lane, fs in _LANE_FILES.items() for f in fs}


def pytest_collection_modifyitems(items):
    for item in items:
        lane = _FILE_LANE.get(item.path.name, "lane_d")
        item.add_marker(getattr(pytest.mark, lane))


@pytest.fixture(scope="session")
def spark():
    s = build_session(
        app_name="m3d-tests",
        master="local[8]",
        extra_conf={
            "spark.sql.shuffle.partitions": "4",
            "spark.ui.enabled": "false",
            "spark.driver.memory": "4g",
        },
    )
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def hive_golden_stdout(tmp_path_factory):
    """One subprocess, one Hive/Derby session, every metastore-needing
    scenario (tests/hive_scripts.py) — JVM+Derby bring-up paid once for
    the whole suite instead of per test module."""
    from tests.hive_scripts import run_all

    proc = run_all(str(tmp_path_factory.mktemp("hive")))
    return proc.stdout, proc.stderr


def assert_hive_markers(output: tuple[str, str], *markers: str) -> None:
    stdout, stderr = output
    for marker in markers:
        assert marker in stdout, (
            f"missing {marker}\nstdout tail: {stdout[-1500:]}\n"
            f"stderr tail: {stderr[-2500:]}"
        )


def drop_table_clean(spark, *tables) -> None:
    """DROP TABLE IF EXISTS plus a sweep of the warehouse-dir remnant —
    the preclean every bucketed-table test needs (a crashed prior run
    can leave the dir with the catalog entry gone, failing the next
    saveAsTable). ONE copy of the removeprefix('file:') idiom."""
    import shutil

    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix(
        "file:"
    )
    for t in tables:
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(f"{warehouse}/{t}", ignore_errors=True)


def multiset_equal(df_a, df_b) -> bool:
    """Order-insensitive multiset compare — the reference's golden-data
    checker (TestUtils.scala:10-24): groupBy(all cols).count on both
    sides, symmetric difference must be empty."""
    a = df_a.groupBy(*df_a.columns).count()
    b = df_b.groupBy(*df_b.columns).count()
    return a.exceptAll(b).isEmpty() and b.exceptAll(a).isEmpty()


def plan_simple(df) -> str:
    """One line per physical node of ``df``'s plan (shared helper —
    keep the PySpark-internal incantation in ONE place)."""
    return df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        df._jdf.queryExecution(), "simple"
    )
