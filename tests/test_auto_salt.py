"""Self-tuning skew salting: the fuzzy/incremental dedup compositions
derive the hot-bucket ``salt_size`` from the observed per-key count
distribution by default (``plans/skew.py::auto_salt_threshold``, read
back on the driver by ``collect_hot_threshold``), instead of requiring
a user to know the dial at 100 TB. Pins: the decision rule itself,
output-identity of the auto paths (hot and cold) against the unsalted
plans, the precomputed ``hot_bands`` artifact contract, and the
exactly-once contract of the salted join helpers.
"""

from __future__ import annotations

import uuid

import pytest
from pyspark.sql import functions as F

from m3d_engine_spark.plans.skew import (
    SALT_PART_COL,
    collect_hot_threshold,
    salted_two_sided_join,
)


def _key_join(l, r, *extra):
    return l.join(r, on=["k", *extra])


# ------------------------------------------------------ decision rule
def test_derive_salt_size_uniform_distribution_is_none(spark):
    # 50 keys × 8 rows: nothing is out of distribution — even with a
    # tiny floor, max == p_q so ratio·p_q exceeds max → no salting
    rel = spark.range(400).select(
        (F.col("id") % 50).alias("k"), F.lit(1).alias("v")
    )
    assert collect_hot_threshold(
        rel.groupBy("k").count(), "count", "auto", floor=4, ratio=4
    ) is None


def test_derive_salt_size_hot_key_yields_threshold(spark):
    # 40 keys × 2 rows + one key with 64 rows: hot key is far beyond
    # ratio·p_q and the floor → threshold returned, and it is below
    # the hot key's count (so that key actually salts) but above the
    # cold keys' (so they don't)
    rel = spark.range(80).select((F.col("id") % 40).alias("k")).unionAll(
        spark.range(64).select(F.lit(999).alias("k"))
    )
    thr = collect_hot_threshold(
        rel.groupBy("k").count(), "count", "auto", floor=8, ratio=4
    )
    assert thr is not None and 8 <= thr < 64


def test_derive_salt_size_floor_keeps_small_data_unsalted(spark):
    # one 64-row key but the default floor (4096) dwarfs it: a bucket
    # this small cannot stall a task, so no salting
    rel = spark.range(64).select(F.lit(1).alias("k"))
    assert collect_hot_threshold(rel.groupBy("k").count(), "count", "auto") is None


def test_derive_salt_size_empty_relation_is_none(spark):
    rel = spark.range(10).filter(F.col("id") < 0).select(
        F.col("id").alias("k")
    )
    assert collect_hot_threshold(
        rel.groupBy("k").count(), "count", "auto", floor=1
    ) is None


# ------------------------------------------- two-sided helper contract
def test_salted_two_sided_streams_exactly_once(spark):
    # hot key "h": 6 left × 5 right = 30 pairs; cold key "c": 2 × 3.
    # Joined output must equal the plain join as a MULTISET (a pair
    # meeting twice would survive a set compare but corrupt counts).
    left = spark.createDataFrame(
        [(i, "h") for i in range(6)] + [(100 + i, "c") for i in range(2)],
        "lid long, k string",
    )
    right = spark.createDataFrame(
        [(200 + i, "h") for i in range(5)] + [(300 + i, "c") for i in range(3)],
        "rid long, k string",
    )
    plain = sorted(
        (r.lid, r.rid) for r in left.join(right, on="k").collect()
    )
    salted = sorted(
        (r.lid, r.rid)
        for r in salted_two_sided_join(
            left, right, ["k"], "lid", "rid", _key_join,
            salt_size=4, salt_parts=3,
        ).collect()
    )
    assert salted == plain and len(plain) == 36


def test_salted_two_sided_streams_reserved_name_guard(spark):
    left = spark.createDataFrame([(1, "a", 0)], f"lid long, k string, {SALT_PART_COL} int")
    right = spark.createDataFrame([(2, "a")], "rid long, k string")
    with pytest.raises(ValueError, match="reserve"):
        salted_two_sided_join(left, right, ["k"], "lid", "rid", _key_join, 1, 2)


def test_salted_self_join_reserves_count_column(spark):
    """The self-join always counts keys into ``_salt_bsz``: a caller
    column of that name must raise the guard's ValueError, not be
    silently overwritten by the window count."""
    from m3d_engine_spark.plans.skew import salted_self_join

    rel = spark.createDataFrame([(1, "a", 5)], "rid long, k string, _salt_bsz long")
    with pytest.raises(ValueError, match="reserve"):
        salted_self_join(rel, ["k"], "rid", _key_join, 2, 2)


# --------------------------------------- composition output identity
def _spy_candidates(monkeypatch, fd) -> list:
    """Record every candidate relation ``fuzzy_dedup_corpus`` plans
    (the composition checkpoints it, which hides its plan)."""
    seen = []
    real = fd.minhash_lsh_candidates

    def spy(*args, **kwargs):
        seen.append(real(*args, **kwargs))
        return seen[-1]

    monkeypatch.setattr(fd, "minhash_lsh_candidates", spy)
    return seen


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001


def _dedup_jobs(spark, docs, salt_size):
    """Sorted output rows of ``fuzzy_dedup_corpus`` and the jobs it ran,
    counted with AQE off, where one query is one job (with AQE every
    shuffle stage runs as a job of its own)."""
    from m3d_engine_spark.operators.fuzzy_dedup import fuzzy_dedup_corpus

    sc = spark.sparkContext
    group = f"fuzzy_dedup_jobs_{uuid.uuid4().hex}"
    prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    sc.setJobGroup(group, group)
    try:
        rows = sorted(
            fuzzy_dedup_corpus(docs, "doc_id", "text", salt_size=salt_size)
            .select("doc_id", "component", "cluster_size")
            .collect()
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        spark.conf.set("spark.sql.adaptive.enabled", prev)
    return rows, len(sc.statusTracker().getJobIdsForGroup(group))


def test_fuzzy_dedup_auto_small_corpus_plans_plain_join(spark, sf_dir, monkeypatch):
    """A corpus of at most AUTO_SALT_FLOOR docs cannot hold a hot LSH
    bucket (one row per doc per bucket, threshold ≥ the floor), so
    "auto" plans the plain self-join: no salt part, no threshold
    broadcast. Deciding that costs one bounded take: one job on this
    single-file corpus (``plans/skew.py::planned_salt_size``)."""
    import m3d_engine_spark.operators.fuzzy_dedup as fd
    import m3d_engine_spark.plans.skew as skew

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    assert docs.count() <= skew.AUTO_SALT_FLOOR
    off, off_jobs = _dedup_jobs(spark, docs, None)
    cands = _spy_candidates(monkeypatch, fd)
    auto, auto_jobs = _dedup_jobs(spark, docs, "auto")
    plan = _plan(cands[0])
    assert SALT_PART_COL not in plan and "BroadcastNestedLoopJoin" not in plan
    assert auto_jobs == off_jobs + 1
    assert auto == off and len(off) > 0


def test_fuzzy_dedup_auto_above_floor_plans_salted_join(spark, sf_dir, monkeypatch):
    """Above the floor "auto" keeps the two-stream salted join (the cold
    self-join plus the hot stream keyed on the salt part), and its
    output is that of the plain join."""
    import m3d_engine_spark.operators.fuzzy_dedup as fd
    import m3d_engine_spark.plans.skew as skew

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    monkeypatch.setattr(skew, "AUTO_SALT_FLOOR", 10)
    off, _ = _dedup_jobs(spark, docs, None)
    cands = _spy_candidates(monkeypatch, fd)
    auto, _ = _dedup_jobs(spark, docs, "auto")
    smj = [ln for ln in _plan(cands[0]).splitlines() if "SortMergeJoin" in ln]
    assert len(smj) == 2 and sum(SALT_PART_COL in ln for ln in smj) == 1, smj
    assert auto == off and len(off) > 0


def test_fuzzy_dedup_auto_rejects_one_salt_part_at_any_size(spark):
    """A spread factor below 2 is a config error whether or not the
    corpus is large enough for "auto" to plan the salted join."""
    from m3d_engine_spark.operators.fuzzy_dedup import fuzzy_dedup_corpus

    docs = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b c e")], "doc_id long, text string"
    )
    with pytest.raises(ValueError, match="salt_parts must be ≥ 2"):
        fuzzy_dedup_corpus(docs, "doc_id", "text", salt_parts=1)


@pytest.mark.slow
def test_fuzzy_dedup_auto_default_equals_unsalted(spark, sf_dir):
    """The new 'auto' default must be output-identical to the old
    salt_size=None default on the real fixture (where nothing is hot,
    routing is identical too — this is the driver-entry path)."""
    from m3d_engine_spark.operators.fuzzy_dedup import fuzzy_dedup_corpus

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    auto = fuzzy_dedup_corpus(docs, "doc_id", "text")  # salt_size="auto"
    off = fuzzy_dedup_corpus(docs, "doc_id", "text", salt_size=None)
    cols = sorted(auto.columns)
    assert sorted(r for r in auto.select(cols).collect()) == sorted(
        r for r in off.select(cols).collect()
    )


@pytest.mark.slow
def test_fuzzy_dedup_auto_hot_path_equals_unsalted(spark, sf_dir, monkeypatch):
    """Force the in-plan tuner hot (threshold relation pinned to 2 →
    most LSH buckets route through the salted stream) and pin output
    identity — the salted plan is a pure re-partitioning of the same
    pairs. The floor is lowered below the corpus size so that "auto"
    plans the salted join at all."""
    import m3d_engine_spark.operators.fuzzy_dedup as fd
    import m3d_engine_spark.plans.skew as skew

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(300)
    off = fd.fuzzy_dedup_corpus(docs, "doc_id", "text", salt_size=None)
    monkeypatch.setattr(
        skew,
        "auto_salt_threshold",
        lambda rel, size_col, **kw: rel.sparkSession.range(1).select(
            F.lit(2).cast("bigint").alias("_thr")
        ),
    )
    monkeypatch.setattr(skew, "AUTO_SALT_FLOOR", 100)
    cands = _spy_candidates(monkeypatch, fd)
    hot = fd.fuzzy_dedup_corpus(docs, "doc_id", "text")  # auto → thr 2
    assert SALT_PART_COL in _plan(cands[0])
    cols = sorted(off.columns)
    assert sorted(r for r in hot.select(cols).collect()) == sorted(
        r for r in off.select(cols).collect()
    )


@pytest.mark.slow
def test_incremental_auto_hot_path_equals_unsalted(spark, sf_dir, monkeypatch):
    import m3d_engine_spark.operators.incremental as inc
    import m3d_engine_spark.plans.skew as skew

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    new = docs.filter(F.col("doc_id") % 5 == 0)
    old = docs.filter(F.col("doc_id") % 5 != 0)
    off = inc.incremental_dedup(new, old, "doc_id", "text", salt_size=None)
    monkeypatch.setattr(
        skew,
        "auto_salt_threshold",
        lambda rel, size_col, **kw: rel.sparkSession.range(1).select(
            F.lit(2).cast("bigint").alias("_thr")
        ),
    )
    hot = inc.incremental_dedup(new, old, "doc_id", "text")  # auto → thr 2
    cols = sorted(off.columns)
    assert sorted(r for r in hot.select(cols).collect()) == sorted(
        r for r in off.select(cols).collect()
    )
    assert off.count() > 0
    # the manual int dial routes through the same helper
    forced = inc.incremental_dedup(new, old, "doc_id", "text", salt_size=2)
    assert sorted(r for r in forced.select(cols).collect()) == sorted(
        r for r in off.select(cols).collect()
    )


# ------------------------------------------- precomputed hot artifact
@pytest.mark.slow
def test_artifact_hot_bands_precomputed_and_batch_equal(spark, tmp_path, sf_dir):
    """materialize(salt_size=2) writes the hot_bands relation + the
    threshold in _meta.json; the batch join splits those buckets off
    and its output is identical to an artifact set materialized with
    salting disabled."""
    import json

    from m3d_engine_spark.operators.incremental import (
        incremental_dedup_against_artifacts,
        materialize_dedup_artifacts,
    )

    corpus = spark.read.parquet(f"{sf_dir}/documents.parquet").filter(
        F.col("doc_id") % 5 != 0
    )
    batch = spark.read.parquet(f"{sf_dir}/documents.parquet").filter(
        F.col("doc_id") % 5 == 0
    )
    salted_arts = materialize_dedup_artifacts(
        corpus, "doc_id", "text", str(tmp_path / "a_hot"), salt_size=2
    )
    plain_arts = materialize_dedup_artifacts(
        corpus, "doc_id", "text", str(tmp_path / "a_plain"), salt_size=None
    )
    assert "hot_bands" in salted_arts and "hot_bands" not in plain_arts
    from m3d_engine_spark.sources.dfs import DFS

    meta = json.loads(DFS(spark).read_text(salted_arts["meta"]))
    assert meta["salt_size"] == 2
    hot_rel = spark.read.parquet(salted_arts["hot_bands"])
    assert hot_rel.count() > 0
    assert set(hot_rel.columns) == {"band", "band_key", "bucket_rows"}

    via_salted = incremental_dedup_against_artifacts(
        batch, salted_arts, "doc_id", "text", salt_parts=4
    )
    via_plain = incremental_dedup_against_artifacts(
        batch, plain_arts, "doc_id", "text"
    )
    cols = sorted(via_plain.columns)
    assert sorted(r for r in via_salted.select(cols).collect()) == sorted(
        r for r in via_plain.select(cols).collect()
    )


@pytest.mark.slow
def test_artifact_auto_salt_small_corpus_writes_nothing(spark, tmp_path, sf_dir):
    """At fixture scale the auto rule must find nothing hot (floor
    4096): no hot_bands artifact, no salt_size in meta — so the batch
    plan stays exactly the pre-round-11 shape."""
    import json

    from m3d_engine_spark.operators.incremental import (
        materialize_dedup_artifacts,
    )

    corpus = spark.read.parquet(f"{sf_dir}/documents.parquet")
    arts = materialize_dedup_artifacts(
        corpus, "doc_id", "text", str(tmp_path / "a_auto")
    )
    assert "hot_bands" not in arts
    from m3d_engine_spark.sources.dfs import DFS

    meta = json.loads(DFS(spark).read_text(arts["meta"]))
    assert "salt_size" not in meta


# -------------------------------------------------- pre-flight advisor
@pytest.mark.slow
def test_advisor_report_values_and_rule_parity(spark, sf_dir):
    """The report's numbers must be internally consistent and its
    salt_size must follow the same rule shape the compositions'
    'auto' mode applies (max(floor, ratio·p95), NULL when nothing
    exceeds it)."""
    from m3d_engine_spark.operators.advisor import dedup_preflight_report

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    row = dedup_preflight_report(
        docs, "doc_id", "text", floor=2, ratio=2
    ).collect()[0]
    assert row.n_rows > 0 and row.n_buckets <= row.n_rows
    assert row.bucket_p50 <= row.bucket_p95 <= row.bucket_max
    assert row.est_pairs >= 0
    thr = max(2, 2 * row.bucket_p95)
    if row.bucket_max > thr:
        assert row.salt_size == thr
        assert 2 <= row.salt_parts <= 64
    else:
        assert row.salt_size is None and row.salt_parts is None
    # default floor (4096): fixture-scale corpora must recommend
    # NO salting — the dial report agrees with what auto mode does
    quiet = dedup_preflight_report(docs, "doc_id", "text").collect()[0]
    assert quiet.salt_size is None and quiet.max_bucket_size is None


@pytest.mark.slow
def test_advisor_cli_roundtrips(spark, tmp_path, sf_dir):
    """advise=true on FuzzyDedup and action=advise on IncrementalDedup
    both write the library report when a target is set."""
    import json

    import m3d_engine_spark.cli  # noqa: F401 — populate REGISTRY
    from m3d_engine_spark.operators.advisor import dedup_preflight_report
    from m3d_engine_spark.operators.base import run_algorithm

    lib = dedup_preflight_report(
        spark.read.parquet(f"{sf_dir}/documents.parquet"), "doc_id", "text"
    ).collect()

    fz_target = str(tmp_path / "fz_advice")
    pfile = tmp_path / "fz.json"
    pfile.write_text(json.dumps({
        "source_location": f"{sf_dir}/documents.parquet",
        "advise": True,
        "target_location": fz_target,
    }))
    run_algorithm(spark, "FuzzyDedup", str(pfile))
    got = spark.read.parquet(fz_target).collect()
    assert got == lib

    # NOTE: no artifact_location here — since round 12 its presence
    # switches advise to the artifact-fed path (separate tests below)
    inc_target = str(tmp_path / "inc_advice")
    pfile2 = tmp_path / "inc.json"
    pfile2.write_text(json.dumps({
        "source_location": f"{sf_dir}/documents.parquet",
        "action": "advise",
        "target_location": inc_target,
    }))
    run_algorithm(spark, "IncrementalDedup", str(pfile2))
    got2 = spark.read.parquet(inc_target).collect()
    assert got2 == lib


@pytest.mark.slow
def test_advisor_from_artifacts_equals_from_scratch(spark, tmp_path, sf_dir):
    """The artifact-fed advisor (round-12, VERDICT r11 item 3) must be
    row-identical to the from-scratch report at the materialize dials —
    the LSH dials are baked into the persisted band relation — while
    reading ONLY (band, band_key) from the bands parquet: no shingle,
    no minhash, no corpus text in the plan."""
    from m3d_engine_spark.operators.advisor import (
        dedup_preflight_report,
        dedup_preflight_report_from_artifacts,
    )
    from m3d_engine_spark.operators.incremental import (
        materialize_dedup_artifacts,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    materialize_dedup_artifacts(
        docs, "doc_id", "text", str(tmp_path / "arts"),
        num_hashes=12, bands=6, shingle_n=2,
    )
    scratch = dedup_preflight_report(
        docs, "doc_id", "text", num_hashes=12, bands=6, shingle_n=2
    ).collect()
    via_arts = dedup_preflight_report_from_artifacts(
        spark, str(tmp_path / "arts")
    )
    assert via_arts.collect() == scratch
    # near-zero cost: the only relation read is the bands parquet,
    # column-pruned — no text column, no hash pipeline in the plan
    lplan = via_arts._jdf.queryExecution().optimizedPlan().toString()  # noqa: SLF001
    assert "text" not in lplan and "xxhash" not in lplan.lower()
    pplan = via_arts._jdf.queryExecution().sparkPlan().toString()  # noqa: SLF001
    # (FileScan locations truncate in toString — pin the scan by its
    # pruned schema instead of the path literal)
    assert "documents.parquet" not in pplan
    assert "ReadSchema: struct<band:int,band_key:string>" in pplan, pplan


def test_advisor_from_artifacts_rejects_non_artifact_dir(spark, tmp_path):
    from m3d_engine_spark.operators.advisor import (
        dedup_preflight_report_from_artifacts,
    )

    bogus = tmp_path / "not_arts"
    bogus.mkdir()
    (bogus / "_meta.json").write_text("{}")
    with pytest.raises(ValueError, match="not a.*dedup artifact"):
        dedup_preflight_report_from_artifacts(spark, str(bogus))


@pytest.mark.slow
def test_advisor_cli_from_artifacts_roundtrips(spark, tmp_path, sf_dir):
    """Both CLI advise modes take artifact_location: the report is the
    artifact-fed one and NO source is read (the params omit source_*
    entirely — a regression to the corpus path would raise)."""
    import json

    import m3d_engine_spark.cli  # noqa: F401 — populate REGISTRY
    from m3d_engine_spark.operators.advisor import (
        dedup_preflight_report_from_artifacts,
    )
    from m3d_engine_spark.operators.base import run_algorithm
    from m3d_engine_spark.operators.incremental import (
        materialize_dedup_artifacts,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    arts_dir = str(tmp_path / "arts")
    materialize_dedup_artifacts(docs, "doc_id", "text", arts_dir)
    lib = dedup_preflight_report_from_artifacts(spark, arts_dir).collect()

    inc_target = str(tmp_path / "inc_advice")
    pfile = tmp_path / "inc.json"
    pfile.write_text(json.dumps({
        "action": "advise",
        "artifact_location": arts_dir,
        "target_location": inc_target,
    }))
    run_algorithm(spark, "IncrementalDedup", str(pfile))
    assert spark.read.parquet(inc_target).collect() == lib

    fz_target = str(tmp_path / "fz_advice")
    pfile2 = tmp_path / "fz.json"
    pfile2.write_text(json.dumps({
        "advise": True,
        "artifact_location": arts_dir,
        "target_location": fz_target,
    }))
    run_algorithm(spark, "FuzzyDedup", str(pfile2))
    assert spark.read.parquet(fz_target).collect() == lib


@pytest.mark.slow
def test_advisor_cli_prints_without_target(spark, tmp_path, sf_dir, capsys):
    import json

    import m3d_engine_spark.cli  # noqa: F401 — populate REGISTRY
    from m3d_engine_spark.operators.base import run_algorithm

    pfile = tmp_path / "fz_print.json"
    pfile.write_text(json.dumps({
        "source_location": f"{sf_dir}/documents.parquet",
        "advise": True,
    }))
    run_algorithm(spark, "FuzzyDedup", str(pfile))
    out = capsys.readouterr().out
    assert "salt_size" in out and "est_pairs" in out


# ----------------------------------------------- in-plan threshold fold
def test_auto_salt_threshold_value(spark):
    """The in-plan histogram fold must produce max(floor, ratio·p95)
    exactly: 40 cold keys of size 2 + one 64-row key → p95 = 2 (the
    hot key is past the 95th bucket), thr = max(8, 4·2) = 8."""
    from m3d_engine_spark.plans.skew import auto_salt_threshold

    rel = spark.range(80).select((F.col("id") % 40).alias("k")).unionAll(
        spark.range(64).select(F.lit(999).alias("k"))
    )
    counts = rel.groupBy("k").agg(F.count(F.lit(1)).alias("sz"))
    row = auto_salt_threshold(counts, "sz", floor=8, ratio=4).collect()
    assert len(row) == 1 and row[0]["_thr"] == 8


def test_auto_salt_threshold_floor_dominates(spark):
    from m3d_engine_spark.plans.skew import auto_salt_threshold

    rel = spark.range(64).select(F.lit(1).alias("k"))
    counts = rel.groupBy("k").agg(F.count(F.lit(1)).alias("sz"))
    row = auto_salt_threshold(counts, "sz").collect()  # defaults 4096/8
    assert row[0]["_thr"] == 4096


def test_salted_self_join_streams_auto_exactly_once(spark):
    """Every salt value — none, a forced int, and 'auto' with a tiny
    floor (which splits the hot key) — keeps every intra-key pair
    exactly once."""
    from m3d_engine_spark.plans.skew import salted_self_join

    rel = spark.createDataFrame(
        [(i, "h") for i in range(12)] + [(100 + i, f"c{i}") for i in range(6)],
        "rid long, k string",
    )
    plain = sorted(
        (a.rid, b.rid)
        for a in rel.collect()
        for b in rel.collect()
        if a.k == b.k and a.rid < b.rid
    )

    def pairs(l, r, *extra):
        cond = [F.col(f"l.k") == F.col(f"r.k")]
        cond += [F.col(f"l.{e}") == F.col(f"r.{e}") for e in extra]
        cond.append(F.col("l.rid") < F.col("r.rid"))
        return (
            l.alias("l").join(r.alias("r"), on=cond)
            .select(F.col("l.rid").alias("a"), F.col("r.rid").alias("b"))
        )

    # unsalted, a forced threshold, and the self-tuning form
    for salt_size in (None, 2, "auto"):
        got = sorted(
            (r.a, r.b)
            for r in salted_self_join(
                rel, ["k"], "rid", pairs, salt_size, 4, floor=2, ratio=4
            ).collect()
        )
        assert got == plain and len(plain) == 66 + 0  # 12C2 hot only


def test_lsh_bucket_cap_and_salt_together(spark, monkeypatch):
    """``max_bucket_size`` and ``salt_size`` set at once: the cap's
    window count and the salted join's own key count both run, and the
    output is exactly the pairs of the cap alone — for a forced int
    threshold and for "auto" with the rule forced to a tiny threshold.
    A 20-doc boilerplate bucket is capped away; a 6-doc bucket survives
    the cap and is hot under both thresholds, so its pairs go through
    the salted stream."""
    import m3d_engine_spark.plans.skew as skew
    from m3d_engine_spark.operators.dedup import minhash_lsh_candidates

    rows = [(i, "boiler plate page body text") for i in range(20)]
    rows += [(50 + i, "a mid sized cluster of copies") for i in range(6)]
    rows += [(100, "a rare near dup document xx"), (101, "a rare near dup document yy")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    def pairs(**kw):
        return {
            (r.id_a, r.id_b)
            for r in minhash_lsh_candidates(
                docs, "doc_id", "text", max_bucket_size=10, **kw
            ).collect()
        }

    capped = pairs()
    assert sum(50 <= a < 56 and 50 <= b < 56 for a, b in capped) == 15
    assert not any(a < 20 and b < 20 for a, b in capped)
    assert pairs(salt_size=2, salt_parts=3) == capped
    monkeypatch.setattr(
        skew,
        "auto_salt_threshold",
        lambda rel, size_col, **kw: rel.sparkSession.range(1).select(
            F.lit(2).cast("bigint").alias("_thr")
        ),
    )
    assert pairs(salt_size="auto", salt_parts=3) == capped


# ----------------------------------- 'auto' across the primitive dials
@pytest.mark.slow
def test_primitive_auto_dials_output_identity(spark, sf_dir, monkeypatch):
    """Every pair-generating primitive's salt dial accepts 'auto' and
    stays output-identical to the unsalted plan, with the tuner forced
    hot so the salted streams actually carry rows."""
    import m3d_engine_spark.plans.skew as skew
    from m3d_engine_spark.operators.dedup import ngram_jaccard_pairs
    from m3d_engine_spark.operators.linkage import fastss_pairs, record_linkage

    from m3d_engine_spark.sources.testdata import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")

    def forced(rel, size_col, **kw):
        return rel.sparkSession.range(1).select(
            F.lit(2).cast("bigint").alias("_thr")
        )

    # ngram_jaccard_pairs: salt_df="auto"
    plain = sorted(
        map(tuple, ngram_jaccard_pairs(
            docs, "doc_id", "text", ["source"], 3, 0.2
        ).collect())
    )
    monkeypatch.setattr(skew, "auto_salt_threshold", forced)
    auto = sorted(
        map(tuple, ngram_jaccard_pairs(
            docs, "doc_id", "text", ["source"], 3, 0.2,
            salt_df="auto", salt_buckets=4,
        ).collect())
    )
    monkeypatch.undo()
    assert auto == plain and len(plain) > 0

    # fastss_pairs: salt_size="auto"
    strs = spark.createDataFrame(
        [(1, "abcd"), (2, "abcd"), (3, "abcd"), (4, "abce"), (5, "zzzz")],
        "sid long, s string",
    )
    plain_f = sorted(
        map(tuple, fastss_pairs(strs, "sid", "s").collect())
    )
    monkeypatch.setattr(skew, "auto_salt_threshold", forced)
    auto_f = sorted(
        map(tuple, fastss_pairs(
            strs, "sid", "s", salt_size="auto", salt_parts=3
        ).collect())
    )
    monkeypatch.undo()
    assert auto_f == plain_f and len(plain_f) > 0

    # record_linkage: salt_size="auto" (two-sided bigger-side choice)
    left = spark.createDataFrame(
        [(i, "b", f"n{i}") for i in range(6)], "lid long, blk string, name string"
    )
    right = spark.createDataFrame(
        [(100 + i, "b", f"n{i}") for i in range(6)],
        "rid long, blk string, name string",
    )
    plain_r = sorted(map(tuple, record_linkage(
        left, right, "lid", "rid", ["blk"], {"name": 1.0},
        threshold=0.1, keep=3,
    ).collect()))
    monkeypatch.setattr(skew, "auto_salt_threshold", forced)
    auto_r = sorted(map(tuple, record_linkage(
        left, right, "lid", "rid", ["blk"], {"name": 1.0},
        threshold=0.1, keep=3, salt_size="auto", salt_parts=3,
    ).collect()))
    monkeypatch.undo()
    assert auto_r == plain_r and len(plain_r) > 0


@pytest.mark.slow
def test_jaccard_dial_report_matches_operator_reality(spark):
    """The jaccard-side report's bucket_max/est_pairs must equal the
    true per-block shingle-df facts of the corpus (checked directly),
    and its dials follow the shared rule."""
    from m3d_engine_spark.operators.advisor import jaccard_dial_report
    from m3d_engine_spark.operators.dedup import shingle_array
    from m3d_engine_spark.sources.testdata import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    row = jaccard_dial_report(
        docs, "doc_id", "text", ["source"], floor=2, ratio=2
    ).collect()[0]
    truth = (
        docs.select(
            "source",
            F.explode(F.array_distinct(shingle_array(F.col("text"), 3))).alias("sh"),
        )
        .groupBy("source", "sh")
        .count()
        .agg(
            F.max("count").alias("mx"),
            F.sum(F.expr("count * (count - 1) DIV 2")).alias("pairs"),
            F.count(F.lit(1)).alias("nb"),
        )
        .collect()[0]
    )
    assert row.bucket_max == truth.mx
    assert row.est_pairs == truth.pairs
    assert row.n_buckets == truth.nb
    thr = max(2, 2 * row.bucket_p95)
    if row.bucket_max > thr:
        assert row.salt_size == thr
    else:
        assert row.salt_size is None


@pytest.mark.slow
def test_lsh_candidate_pairs_salted_identity(spark, sf_dir, monkeypatch):
    """The seeded-LSH ANN pair tier's hot-bucket dial: salted (manual
    int AND forced-hot auto) candidate sets are identical to the
    unsalted join, and the composed margin_mine output is unchanged."""
    import m3d_engine_spark.plans.skew as skew
    from m3d_engine_spark.operators.similarity import margin_mine

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(200)
    a = emb.filter(F.col("vec_id") % 2 == 0)
    b = emb.filter(F.col("vec_id") % 2 == 1)
    kw = dict(candidates="seeded_lsh", bits=2, tables=4, knn=3)
    plain = sorted(map(tuple, margin_mine(
        a, b, "vec_id", "embedding", **kw
    ).collect()))
    manual = sorted(map(tuple, margin_mine(
        a, b, "vec_id", "embedding", salt_size=2, salt_parts=3, **kw
    ).collect()))
    assert manual == plain and len(plain) > 0
    monkeypatch.setattr(
        skew,
        "auto_salt_threshold",
        lambda rel, size_col, **k2: rel.sparkSession.range(1).select(
            F.lit(2).cast("bigint").alias("_thr")
        ),
    )
    auto = sorted(map(tuple, margin_mine(
        a, b, "vec_id", "embedding", salt_size="auto", **kw
    ).collect()))
    assert auto == plain


@pytest.mark.slow
def test_incremental_advise_needs_no_artifact_location(spark, tmp_path, sf_dir):
    """action=advise runs BEFORE any artifact directory exists — it
    must not require artifact_location (round-11 review fix)."""
    import json

    import m3d_engine_spark.cli  # noqa: F401 — populate REGISTRY
    from m3d_engine_spark.operators.base import run_algorithm

    target = str(tmp_path / "advice")
    pfile = tmp_path / "inc_noart.json"
    pfile.write_text(json.dumps({
        "source_location": f"{sf_dir}/documents.parquet",
        "action": "advise",
        "target_location": target,
    }))
    run_algorithm(spark, "IncrementalDedup", str(pfile))
    assert spark.read.parquet(target).count() == 1


def test_two_sided_streams_reserves_internal_count_names(spark):
    """A caller column named _cl/_cr/_cmax/_thr must raise the guard's
    deliberate ValueError, not an AMBIGUOUS_REFERENCE later."""
    left = spark.createDataFrame([(1, "a", 5)], "lid long, k string, _cl int")
    right = spark.createDataFrame([(2, "a")], "rid long, k string")
    with pytest.raises(ValueError, match="reserve"):
        salted_two_sided_join(left, right, ["k"], "lid", "rid", _key_join, 1, 2)
