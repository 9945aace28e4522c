"""Round-14 fixes: suffix-tier checkpoint lifecycle + the meta-less
artifact guard (ADVICE r13), and the atomic bench lock's orphan
collection (tested alongside the r13 lock suite)."""

import json
import os

import pytest

import m3d_engine_spark.operators.suffix  # noqa: F401 — populates REGISTRY
from m3d_engine_spark.config import ConfigError, ParamsFile


def _persistent_rdd_ids(spark):
    return {
        int(str(k))
        for k in spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray()
    }


def _docs(spark):
    return spark.createDataFrame(
        [(1, "a b c d e f g h"), (2, "x y a b c d e f"), (3, "q r s t")],
        "doc_id int, text string",
    )


def test_suffix_track_collects_and_unpersists(spark):
    """suffix_window_classes(track=...) registers every lazy
    localCheckpoint; unpersist_checkpoints frees the RDD blocks (via
    the LogicalRDD — DataFrame.unpersist() would be a no-op for
    checkpoint blocks)."""
    from m3d_engine_spark.operators.base import unpersist_checkpoints
    from m3d_engine_spark.operators.suffix import (
        _tokenized,
        suffix_window_classes,
    )

    before = _persistent_rdd_ids(spark)
    track = []
    occ = suffix_window_classes(
        _tokenized(_docs(spark), "doc_id", "text"), "doc_id", 6, track=track
    )
    occ.count()  # materialize: the lazy checkpoints persist their RDDs
    assert track, "track list collected nothing"
    during = _persistent_rdd_ids(spark) - before
    assert during, "no checkpoint blocks were persisted"
    unpersist_checkpoints(track)
    after = _persistent_rdd_ids(spark) - before
    assert not after, f"leaked checkpoint RDDs: {after}"


def test_decontaminate_run_frees_checkpoint_blocks(spark, tmp_path):
    """The exact-mode Decontaminate job must not leak checkpoint
    storage into a long-lived session (thrift server / multi-step
    Pipeline): run()'s cleanup frees what the doubling cascade
    pinned."""
    from m3d_engine_spark.operators.base import REGISTRY

    train_loc, probe_loc = str(tmp_path / "train"), str(tmp_path / "probe")
    _docs(spark).write.parquet(train_loc)
    spark.createDataFrame(
        [(9, "a b c d e f")], "doc_id int, text string"
    ).write.parquet(probe_loc)
    before = _persistent_rdd_ids(spark)
    out = str(tmp_path / "clean")
    REGISTRY["Decontaminate"](spark, ParamsFile({
        "source_location": train_loc,
        "probe_location": probe_loc,
        "span_tokens": 6,
        "target_location": out,
    })).run()
    leaked = _persistent_rdd_ids(spark) - before
    assert not leaked, f"run() leaked checkpoint RDDs: {leaked}"
    rows = {r.doc_id: r for r in spark.read.parquet(out).collect()}
    assert rows[3].n_removed == 0  # untouched doc survives intact


def test_artifact_scrub_missing_sidecar_requires_explicit_dial(
    spark, tmp_path, caplog
):
    """A sidecar-less artifact (hand-built, or _meta.json lost) must
    never silently scrub with the DEFAULT span_tokens — wrong L
    matches nothing and emits the corpus unchanged. No explicit dial
    -> ConfigError naming the sidecar; explicit dial -> loud warning
    and a real scrub."""
    from m3d_engine_spark.operators.base import REGISTRY
    from m3d_engine_spark.operators.suffix import probe_gram_artifact

    train_loc = str(tmp_path / "train")
    spark.createDataFrame(
        [(1, "pre m n o p q post")], "doc_id int, text string"
    ).write.parquet(train_loc)
    probes = spark.createDataFrame([(9, "m n o p q")], "doc_id int, text string")
    art_loc = str(tmp_path / "art")
    # hand-built artifact: data only, NO _meta.json sidecar
    probe_gram_artifact(probes, "text", span_tokens=5).write.parquet(art_loc)
    assert not os.path.exists(f"{art_loc}/_meta.json")

    base = {"source_location": train_loc, "probe_artifact_location": art_loc}
    with pytest.raises(ConfigError, match="_meta.json"):
        REGISTRY["Decontaminate"](spark, ParamsFile({
            **base, "target_location": str(tmp_path / "never"),
        })).run()

    out = str(tmp_path / "scrubbed")
    import logging

    with caplog.at_level(logging.WARNING,
                         logger="m3d_engine_spark.operators.suffix"):
        REGISTRY["Decontaminate"](spark, ParamsFile({
            **base, "span_tokens": 5, "target_location": out,
        })).run()
    assert any("_meta.json" in r.message for r in caplog.records)
    row = spark.read.parquet(out).collect()[0]
    assert row.clean_text == "pre post" and row.n_removed == 5
