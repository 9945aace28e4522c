"""Multimodal binary plumbing + streaming pipelines."""

import pytest
from pyspark.sql import functions as F

from m3d_engine_spark.operators.multimodal import (
    DECODED_SCHEMA,
    decode_media,
    payload_metadata,
    synthesize_media_from_documents,
)


@pytest.fixture(scope="module")
def media(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(50)
    return synthesize_media_from_documents(docs)


def test_payload_metadata_jvm_side(media):
    out = payload_metadata(media)
    r = out.filter(F.col("media_id") == out.select(F.min("media_id")).first()[0]).first()
    assert r.byte_len > 0
    assert len(r.md5) == 32 and len(r.sha256) == 64


def test_decode_media_stub_batch_shape(media):
    out = decode_media(media, decode_stub=True)
    assert out.schema == DECODED_SCHEMA
    rows = out.collect()
    assert len(rows) == 50
    for r in rows[:5]:
        assert 16 <= r.width < 256 and 16 <= r.height < 256
        assert len(r.sha256) == 64


def test_decode_media_real_raises(media):
    from m3d_engine_spark.operators.multimodal import _decode_batch_real
    import pandas as pd

    with pytest.raises(NotImplementedError):
        _decode_batch_real(pd.DataFrame({"payload": [b"x"]}))


def test_streaming_append_load_availablenow(spark, tmp_path, sf_dir):
    from m3d_engine_spark.streaming.pipeline import streaming_append_load

    src = spark.read.parquet(f"{sf_dir}/orders.parquet").limit(200)
    landing = str(tmp_path / "landing")
    src.withColumn(
        "date_str", F.date_format("o_orderdate", "yyyyMMdd")
    ).write.parquet(landing)
    schema = spark.read.parquet(landing).schema
    q = streaming_append_load(
        spark,
        landing,
        schema,
        str(tmp_path / "out"),
        str(tmp_path / "ckpt"),
        partition_column="date_str",
        partition_format="yyyyMMdd",
        target_partitions=["year", "month"],
    ).start()
    q.awaitTermination(120)
    out = spark.read.parquet(str(tmp_path / "out"))
    assert out.count() == 200
    assert {"year", "month"} <= set(out.columns)
    years = {r.year for r in out.select("year").distinct().collect()}
    assert years <= set(range(1995, 2002))


def test_windowed_rollup_batch_semantics(spark, sf_dir):
    from m3d_engine_spark.streaming.pipeline import windowed_rollup

    from m3d_engine_spark.sources.testdata import load_table
    events = load_table(spark, sf_dir, "events")
    out = windowed_rollup(events, window="1 day", watermark="2 days")
    total = out.agg(F.sum("n_events")).first()[0]
    assert total == events.count()


# ---------------------------------------------------------------------------
# Round 2: custom stateful operator — gap sessionization.
# ---------------------------------------------------------------------------
import datetime

from m3d_engine_spark.streaming.pipeline import sessionize


def _ts(minute):
    return datetime.datetime(2024, 1, 1, 10, minute)


def test_sessionize_batch_gap_split(spark):
    rows = [
        (1, _ts(0), 1.0),
        (1, _ts(5), 2.0),
        (1, _ts(50), 3.0),   # > 30 min gap → new session
        (2, _ts(0), 4.0),
    ]
    df = spark.createDataFrame(rows, "user_id bigint, ts timestamp, value double")
    out = {
        (r.user_id, r.session_start.minute, r.session_end.minute, r.n_events, r.sum_value)
        for r in sessionize(df, gap="30 minutes").collect()
    }
    assert out == {
        (1, 0, 5, 2, 3.0),
        (1, 50, 50, 1, 3.0),
        (2, 0, 0, 1, 4.0),
    }


def test_sessionize_batch_jvm_equals_arrow_kernel(spark):
    """The JVM window form (default batch path) and the applyInPandas
    kernel must produce identical sessions on real-shaped data."""
    from m3d_engine_spark.sources.testdata import load_table

    ev = load_table(spark, "/root/testdata/sf0.001", "events").select(
        "user_id", "ts", "value"
    )
    key = lambda r: (r.user_id, r.session_start, r.session_end, r.n_events, r.sum_value)  # noqa: E731
    jvm = sorted(map(key, sessionize(ev, gap="30 minutes").collect()))
    arrow = sorted(
        map(key, sessionize(ev, gap="30 minutes", use_arrow_batch=True).collect())
    )
    assert jvm == arrow and len(jvm) > 0


def test_sessionize_batch_plan_has_no_python(spark):
    """Batch sessionize must stay JVM-side: no BatchEvalPython /
    ArrowEvalPython / FlatMapGroupsInPandas node anywhere, and the
    window + one aggregate exchange shape."""
    df = spark.createDataFrame(
        [(1, _ts(0), 1.0), (1, _ts(50), 2.0)],
        "user_id bigint, ts timestamp, value double",
    )
    plan = sessionize(df, gap="30 minutes")._jdf.queryExecution().executedPlan().toString()
    for node in ("BatchEvalPython", "ArrowEvalPython", "FlatMapGroupsInPandas", "MapInPandas"):
        assert node not in plan, f"{node} leaked into the batch sessionize plan:\n{plan}"
    assert "Window" in plan


def test_sessionize_streaming_plan_builds(spark, tmp_path):
    """The applyInPandasWithState plan must at least construct and run
    one availableNow batch against a rate-limited file stream."""
    src = tmp_path / "stream_src"
    df = spark.createDataFrame(
        [(1, _ts(0), 1.0), (1, _ts(5), 2.0)],
        "user_id bigint, ts timestamp, value double",
    )
    df.write.parquet(str(src))
    stream = (
        spark.readStream.schema("user_id bigint, ts timestamp, value double")
        .parquet(str(src))
    )
    sess = sessionize(stream, gap="2 minutes")
    q = (
        sess.writeStream.format("memory")
        .queryName("sess_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(180), "availableNow run must terminate"
    # gap=2min < 5min spacing → first session (one event) closes within
    # the single batch; the second stays open in state for the next run.
    out = {(r.user_id, r.n_events) for r in spark.sql("SELECT * FROM sess_out").collect()}
    assert out == {(1, 1)}


def test_streaming_append_load_algorithm_incremental(spark, tmp_path):
    """Two CLI-style runs: the second ingests only the newly-landed file
    (exactly-once via checkpoint)."""
    from m3d_engine_spark.config import ParamsFile
    from m3d_engine_spark.operators.base import REGISTRY

    landing = tmp_path / "landing"
    df1 = spark.createDataFrame([(1, "20240101"), (2, "20240102")], "k int, d string")
    df1.write.parquet(str(landing))
    params = ParamsFile({
        "source_dir": str(landing),
        "schema": {"type": "struct", "fields": [
            {"name": "k", "type": "integer", "nullable": True, "metadata": {}},
            {"name": "d", "type": "string", "nullable": True, "metadata": {}},
        ]},
        "target_location": str(tmp_path / "out"),
        "checkpoint_location": str(tmp_path / "ckpt"),
        "target_partitions": ["year", "month"],
        "partition_column": "d",
        "partition_column_format": "yyyyMMdd",
    })
    REGISTRY["StreamingAppendLoad"](spark, params).run()
    assert spark.read.parquet(str(tmp_path / "out")).count() == 2

    df2 = spark.createDataFrame([(3, "20240203")], "k int, d string")
    df2.write.mode("append").parquet(str(landing))
    REGISTRY["StreamingAppendLoad"](spark, params).run()
    out = spark.read.parquet(str(tmp_path / "out"))
    assert out.count() == 3
    assert {(r.year, r.month) for r in out.select("year", "month").distinct().collect()} == {
        (2024, 1), (2024, 2)
    }


def test_sample_frames_fanout_and_kernel(spark, sf_dir):
    """JVM-side fan-out: every video yields ceil(n_frames/8) rows with
    idx 0,8,16,...; the Arrow kernel's frame_sha is a pure function of
    (sha256, idx)."""
    import hashlib

    from m3d_engine_spark.operators.multimodal import (
        decode_media,
        sample_frames,
        synthesize_media_from_documents,
    )
    from m3d_engine_spark.sources.testdata import load_table

    docs = load_table(spark, sf_dir, "documents").limit(60)
    decoded = decode_media(synthesize_media_from_documents(docs))
    frames = sample_frames(decoded, every_k=8)
    dec = {r["media_id"]: (r["sha256"], r["n_frames"])
           for r in decoded.filter(F.col("media_type") == "video").collect()}
    got = frames.collect()
    by_media = {}
    for r in got:
        by_media.setdefault(r["media_id"], []).append(r)
        sha, _ = dec[r["media_id"]]
        want = hashlib.md5(f"{sha}:{r['frame_idx']}".encode()).hexdigest()
        assert r["frame_sha"] == want
    for mid, (sha, n_frames) in dec.items():
        idxs = sorted(r["frame_idx"] for r in by_media[mid])
        assert idxs == list(range(0, n_frames, 8))
