"""Round-15 fixes (ADVICE r14): sidecar span_tokens validation,
state-append retry safety + self-scan materialization, and the
streaming meta-less-artifact warning noise."""

import json
import logging
import os

import pytest

import m3d_engine_spark.operators.suffix  # noqa: F401 — populates REGISTRY
from m3d_engine_spark.config import ConfigError, ParamsFile
from m3d_engine_spark.operators.base import REGISTRY


def _persistent_rdd_ids(spark):
    return {
        int(str(k))
        for k in spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray()
    }


# -------------------------------------------- sidecar value validation
def test_sidecar_boolean_or_nonpositive_span_tokens_rejected(
    spark, tmp_path
):
    """A hand-edited/corrupted _meta.json carrying ``true`` (int()s to
    1 -> vocabulary-wide scrub) or a value < 1 must classify as the
    same ConfigError a truncated sidecar gets — the sidecar value gets
    no less scrutiny than the explicit param."""
    from m3d_engine_spark.operators.suffix import (
        resolve_artifact_span_tokens,
    )

    art = tmp_path / "art"
    art.mkdir()
    for bad in (True, 0, -3):
        (art / "_meta.json").write_text(
            json.dumps({"kind": "probe_gram_artifact", "span_tokens": bad})
        )
        with pytest.raises(ConfigError, match="usable span_tokens"):
            resolve_artifact_span_tokens(spark, str(art))


# --------------------------------------- state_location retry safety
def test_state_location_rejects_append_load_modes(spark, tmp_path):
    """The output commit and the state append are two separate jobs: a
    crash between them makes the nightly retry re-scrub the batch, and
    an APPEND target would then hold the batch's rows twice. prepare()
    rejects the combination before any read (bogus source paths prove
    the fail-fast)."""
    for mode in ("AppendUnionPartitions", "AppendJoinPartitions"):
        with pytest.raises(ConfigError, match="not\\s+.?retry-safe"):
            REGISTRY["Decontaminate"](spark, ParamsFile({
                "source_location": str(tmp_path / "never-read"),
                "probe_location": str(tmp_path / "never-read-either"),
                "state_location": str(tmp_path / "state"),
                "load_mode": mode,
                "target_location": str(tmp_path / "out"),
            })).run()


def test_state_append_table_target_materializes_ids(spark, tmp_path):
    """The non-read-back branch (table target): the batch-id relation's
    plan holds the left-anti join that SCANS state_location, so the
    append job must pin the ids first (localCheckpoint) rather than
    read and append the same path in one action. Pinned behaviorally:
    two nightly batches against a table target leave exactly the union
    of batch ids in state, the second batch scrubs only new docs, and
    run() frees the checkpoint blocks."""
    probes = str(tmp_path / "probes")
    spark.createDataFrame(
        [(9, "m n o p q")], "doc_id int, text string"
    ).write.parquet(probes)
    state = str(tmp_path / "state")

    def run_batch(rows, table):
        loc = str(tmp_path / f"src_{table}")
        spark.createDataFrame(rows, "doc_id int, text string").write.parquet(loc)
        REGISTRY["Decontaminate"](spark, ParamsFile({
            "source_location": loc,
            "probe_location": probes,
            "span_tokens": 5,
            "state_location": state,
            "target_table": table,
        })).run()
        return {r.doc_id: r for r in spark.table(table).collect()}

    before = _persistent_rdd_ids(spark)
    try:
        out1 = run_batch(
            [(1, "pre m n o p q post"), (2, "clean doc")], "r15_night1"
        )
        assert out1[1].n_removed == 5 and out1[2].n_removed == 0
        assert not (_persistent_rdd_ids(spark) - before), (
            "state append leaked checkpoint blocks"
        )
        state_ids = sorted(
            r.doc_id for r in spark.read.parquet(state).collect()
        )
        assert state_ids == [1, 2]

        # night 2: one seen doc (anti-joined out) + one new
        out2 = run_batch(
            [(2, "clean doc"), (3, "also m n o p q here")], "r15_night2"
        )
        assert sorted(out2) == [3], "seen doc was re-scrubbed"
        assert out2[3].n_removed == 5
        state_ids = sorted(
            r.doc_id for r in spark.read.parquet(state).collect()
        )
        assert state_ids == [1, 2, 3]
    finally:
        spark.sql("DROP TABLE IF EXISTS r15_night1")
        spark.sql("DROP TABLE IF EXISTS r15_night2")


# ---------------------------------- streaming meta-less warning noise
def test_stream_batch_skips_missing_sidecar_warning(spark, tmp_path, caplog):
    """A meta-less artifact is legal at wiring with an explicit dial
    and pays the trust warning ONCE there; the per-batch re-validation
    only runs when _meta.json is present (the refresh case), so batches
    stay quiet — repeated warnings train operators to ignore the one
    that matters."""
    from m3d_engine_spark.operators.suffix import probe_gram_artifact
    from m3d_engine_spark.streaming.pipeline import (
        decontaminate_stream_batch,
    )

    art = str(tmp_path / "art")
    probes = spark.createDataFrame(
        [(9, "m n o p q")], "doc_id int, text string"
    )
    probe_gram_artifact(probes, "text", span_tokens=5).write.parquet(art)
    assert not os.path.exists(f"{art}/_meta.json")

    batch = spark.createDataFrame(
        [(1, "pre m n o p q post")], "doc_id int, text string"
    )
    out = str(tmp_path / "out")
    with caplog.at_level(
        logging.WARNING, logger="m3d_engine_spark.operators.suffix"
    ):
        decontaminate_stream_batch(
            batch, 0, art, out, "doc_id", "text", 5
        )
    assert not any("_meta.json" in r.message for r in caplog.records), (
        "meta-less artifact warned again inside the batch body"
    )
    row = spark.read.parquet(f"{out}/batch_id=0").collect()[0]
    assert row.clean_text == "pre post" and row.n_removed == 5

    # the refresh case still validates: a sidecar APPEARING mid-stream
    # at a different L fails the batch loudly
    with open(f"{art}/_meta.json", "w") as fh:
        json.dump({"kind": "probe_gram_artifact", "span_tokens": 7}, fh)
    with pytest.raises(ConfigError, match="conflicts"):
        decontaminate_stream_batch(
            batch, 1, art, out, "doc_id", "text", 5
        )
