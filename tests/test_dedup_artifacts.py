"""Materialized corpus-side dedup artifacts: write-once, batch-join
equivalence with the from-scratch operator."""

from __future__ import annotations

import pytest

from m3d_engine_spark.operators.incremental import (
    incremental_dedup,
    incremental_dedup_against_artifacts,
    materialize_dedup_artifacts,
)

_BASE = (
    "alpha bravo charlie delta echo foxtrot golf hotel india juliet "
    "kilo lima mike november oscar papa quebec romeo sierra tango"
)


@pytest.mark.slow
def test_artifact_path_equals_from_scratch(spark, tmp_path, sf_dir):
    corpus = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    arts = materialize_dedup_artifacts(
        corpus, "doc_id", "text", str(tmp_path / "arts")
    )
    assert set(arts) == {"fingerprints", "bands", "shingles", "meta"}
    batch = spark.createDataFrame(
        [
            # exact dup of an existing doc (copy text from the corpus)
            (900001, corpus.orderBy("doc_id").first().text),
            (900002, _BASE),
            (900003, "an entirely novel document about nothing familiar"),
        ],
        "doc_id long, text string",
    )
    via_artifacts = {
        r.doc_id
        for r in incremental_dedup_against_artifacts(
            batch, arts, "doc_id", "text", threshold=0.5
        ).collect()
    }
    from_scratch = {
        r.doc_id
        for r in incremental_dedup(
            batch, corpus, "doc_id", "text", threshold=0.5
        ).collect()
    }
    assert via_artifacts == from_scratch
    assert 900001 not in via_artifacts  # the exact dup is gone
    assert 900003 in via_artifacts
    # artifacts are corpus-sized relations, not text: fingerprints are
    # 32-hex strings, bands are (id, band, band_key)
    fp = spark.read.parquet(arts["fingerprints"])
    assert fp.columns == ["_fp"]
    assert fp.count() <= corpus.count()
    bd = spark.read.parquet(arts["bands"])
    assert set(bd.columns) == {"doc_id", "band", "band_key"}


@pytest.mark.slow
def test_bucketed_bands_artifact_equivalent_and_shuffle_free(
    spark, tmp_path, sf_dir
):
    """The production refinement: bands ALSO written as a metastore
    table bucketed on (band, band_key). (a) The batch join result is
    identical to the path-artifact form; (b) with broadcast disabled,
    the candidate join reads the corpus side straight from its buckets
    — no Exchange above the bucketed scan, only the batch side
    shuffles into the bucket layout."""

    from pyspark.sql import functions as F

    corpus = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    from conftest import drop_table_clean

    table = "t_bands_bucketed"
    drop_table_clean(spark, table)
    try:
        arts = materialize_dedup_artifacts(
            corpus, "doc_id", "text", str(tmp_path / "arts"),
            bands_table=table, num_buckets=4,
        )
        assert arts["bands_table"] == table
        path_arts = {k: v for k, v in arts.items() if k != "bands_table"}
        # strip bands_table from a meta copy so the consumer takes the
        # parquet path for the baseline read
        import json

        meta = json.loads(open(f"{tmp_path}/arts/_meta.json").read())
        meta.pop("bands_table")
        alt = tmp_path / "arts_path_only"
        alt.mkdir()
        (alt / "_meta.json").write_text(json.dumps(meta))
        path_arts["meta"] = str(alt / "_meta.json")

        batch = spark.createDataFrame(
            [
                (900001, corpus.orderBy("doc_id").first().text),
                (900002, _BASE),
                (900003, "an entirely novel document about nothing familiar"),
            ],
            "doc_id long, text string",
        )
        via_bucketed = {
            r.doc_id
            for r in incremental_dedup_against_artifacts(
                batch, arts, "doc_id", "text", threshold=0.5
            ).collect()
        }
        via_path = {
            r.doc_id
            for r in incremental_dedup_against_artifacts(
                batch, path_arts, "doc_id", "text", threshold=0.5
            ).collect()
        }
        assert via_bucketed == via_path

        # (b) plan shape: no Exchange between the bucketed scan and the
        # SMJ. Broadcast off so the planner must use the bucket layout.
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            from m3d_engine_spark.operators.dedup import lsh_bands

            nb = lsh_bands(batch, "doc_id", "text", 16, 8, 3)
            joined = nb.alias("n").join(
                spark.table(table).alias("o"),
                on=[F.col("n.band") == F.col("o.band"),
                    F.col("n.band_key") == F.col("o.band_key")],
            )
            plan = joined._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
                joined._jdf.queryExecution(), "formatted"
            )
            # formatted mode lists the operator tree; the bucketed scan
            # appears as 'Scan parquet <db>.<table>' with Bucketed: true
            # in its detail block and must NOT have an Exchange above it
            assert "SortMergeJoin" in plan
            assert "Bucketed: true" in plan, plan[:2000]
            # the bucketed corpus side is the SMJ's SECOND child — the
            # tree lines after the last ':'-continuation line (the
            # first child's block). It must contain the bucketed scan
            # and no Exchange (the batch side keeps its own shuffles —
            # that's the point).
            tree = plan.split("\n\n")[0].splitlines()
            last_cont = max(
                i for i, ln in enumerate(tree) if ln.lstrip().startswith(":")
            )
            second_child = tree[last_cont + 1 :]
            assert any(f"default.{table}" in ln for ln in second_child), tree
            assert not any("Exchange" in ln for ln in second_child), second_child
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_artifacts_without_minhash_family_are_refused(spark, tmp_path):
    """Band keys of another MinHash family never equal the batch's, so
    a stale ``{base}/bands`` would silently admit every fuzzy dup: an
    absent or different ``minhash`` id in ``_meta.json`` is refused,
    naming the artifact and the re-materialize fix — by the batch join
    and by the advisor that reads the same bands."""
    import json

    from m3d_engine_spark.config import ConfigError
    from m3d_engine_spark.operators.advisor import (
        dedup_preflight_report_from_artifacts,
    )
    from m3d_engine_spark.operators.dedup import MINHASH_FAMILY

    corpus = spark.createDataFrame(
        [(1, _BASE), (2, "a short unrelated text")], "doc_id long, text string"
    )
    arts = materialize_dedup_artifacts(
        corpus, "doc_id", "text", str(tmp_path / "arts"), salt_size=None
    )
    meta_path = tmp_path / "arts" / "_meta.json"
    meta = json.loads(meta_path.read_text())
    assert meta["minhash"] == MINHASH_FAMILY
    batch = spark.createDataFrame([(9, _BASE)], "doc_id long, text string")
    for stale in ({}, {"minhash": "md5-per-hash"}):
        meta_path.write_text(
            json.dumps({k: v for k, v in meta.items() if k != "minhash"} | stale)
        )
        with pytest.raises(ConfigError, match="materialize_dedup_artifacts") as e:
            incremental_dedup_against_artifacts(batch, arts, "doc_id", "text")
        assert str(meta_path) in str(e.value)
        with pytest.raises(ConfigError, match="materialize_dedup_artifacts") as e:
            dedup_preflight_report_from_artifacts(spark, str(tmp_path / "arts"))
        assert str(meta_path) in str(e.value)
