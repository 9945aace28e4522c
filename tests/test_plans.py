"""Physical-plan pins: the scale properties SURVEY §4 designs for must
be visible in the plans Catalyst actually produces, not just intended.

Each test asserts on ``explain``-level plan text:
* partition predicates prune at the source (PartitionFilters, not a
  post-scan Filter over all files);
* value filters push into the parquet scan (PushedFilters);
* the small dimension side of a join broadcasts;
* column pruning reaches the scan (ReadSchema carries only used cols);
* hot-path text/dedup expressions stay JVM-side (no BatchEvalPython =
  no row-at-a-time Python UDF in the plan).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from m3d_engine_spark.plans.partitions import partition_predicate

# Slow lane since round 8 (VERDICT r7 item 5 - default-lane budget):
# the plan-shape sweep runs once per session via `-m slow`; nothing
# deleted.
pytestmark = pytest.mark.slow


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        df._jdf.queryExecution(), "formatted"
    )


def _plan_simple(df) -> str:
    """One line per physical node — use for COUNTING nodes (formatted
    mode prints every node twice: tree + details)."""
    return df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        df._jdf.queryExecution(), "simple"
    )


def test_partition_predicate_prunes_partitioned_scan(spark, tmp_path):
    """The Column-predicate design (vs the reference's row lambda) must
    yield PartitionFilters on a partitioned parquet scan — the single
    biggest designed-in perf win (SURVEY §4)."""
    loc = str(tmp_path / "pp")
    spark.createDataFrame(
        [(i, i % 3 + 2020) for i in range(100)], "k int, year int"
    ).write.partitionBy("year").parquet(loc)
    df = spark.read.parquet(loc).filter(partition_predicate([[("year", 2021)]]))
    plan = _plan(df)
    # the partition filter must land in the scan's PartitionFilters slot
    # (inputFiles() is pre-pruning, so assert on the plan itself)
    pf = plan.split("PartitionFilters")[1].split("\n")[0]
    assert "year" in pf and "2021" in pf, pf
    assert df.count() == 33  # i % 3 == 1 for i in 0..99


def test_value_filter_pushed_to_parquet(spark, sf_dir):
    df = spark.read.parquet(f"{sf_dir}/lineitem.parquet").filter(
        F.col("l_quantity") > 45
    ).select("l_orderkey")
    plan = _plan(df)
    assert "PushedFilters" in plan and "l_quantity" in plan.split("PushedFilters")[1][:200]


def test_column_pruning_reaches_scan(spark, sf_dir):
    df = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select("l_orderkey", "l_quantity")
    plan = _plan(df)
    read_schema = plan.split("ReadSchema")[1][:200]
    assert "l_orderkey" in read_schema and "l_extendedprice" not in read_schema


def test_order_revenue_broadcasts_dimension(spark):
    import __spark_entry__ as m

    df = m.queries()["order_revenue"](spark, "/root/testdata/sf0.001")
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


def test_text_stats_has_no_python_udf(spark):
    import __spark_entry__ as m

    for name in ("text_stats", "language_id", "exact_dups", "simhash_dedup"):
        plan = _plan(m.queries()[name](spark, "/root/testdata/sf0.001"))
        assert "BatchEvalPython" not in plan, f"{name} fell off the JVM fast path"
        assert "ArrowEvalPython" not in plan, f"{name} uses a pandas UDF unexpectedly"


def test_pricing_summary_single_shuffle(spark):
    """Q1-shaped agg: one Exchange (partial → final agg), no more."""
    import __spark_entry__ as m

    plan = _plan(m.queries()["pricing_summary"](spark, "/root/testdata/sf0.001"))
    assert plan.count("Exchange") <= 2  # shuffle + (AQE may show reused node)
    assert "HashAggregate" in plan


def test_bucketed_join_has_no_shuffle(spark, sf_dir):
    """Both sides bucketed on the join key → the join plan carries no
    Exchange (the layout-level win bucketing exists for)."""
    from m3d_engine_spark.sources.bucketing import write_bucketed_table

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")

    from conftest import drop_table_clean

    drop_table_clean(spark, "b_orders", "b_lineitem")
    write_bucketed_table(orders, "b_orders", ["o_orderkey"], num_buckets=4,
                         sort_cols=["o_orderkey"])
    write_bucketed_table(li, "b_lineitem", ["l_orderkey"], num_buckets=4,
                         sort_cols=["l_orderkey"])
    # Disable broadcast so the planner actually uses the bucketed
    # layout (at test scale the dim side is broadcast-eligible, which
    # bypasses bucketing; at 100 TB fact⋈fact it is not).
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table("b_lineitem").join(
            spark.table("b_orders"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        ).select("l_orderkey", "o_totalprice")
        plan = _plan(joined)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert "SortMergeJoin" in plan
    assert "Exchange" not in plan, "bucketed join must not shuffle"
    spark.sql("DROP TABLE b_orders")
    spark.sql("DROP TABLE b_lineitem")


def test_salted_join_matches_plain_join(spark, sf_dir):
    from m3d_engine_spark.plans.skew import salted_join

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select("event_id", "user_id")
    users = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .select("user_id").distinct()
        .withColumn("user_tag", F.concat(F.lit("u"), F.col("user_id")))
    )
    plain = {tuple(r) for r in ev.join(users, on=["user_id"]).collect()}
    salted = {tuple(r) for r in
              salted_join(ev, users, on=["user_id"], salt_buckets=4,
                          salt_source=["event_id"]).collect()}
    assert salted == plain and len(plain) > 0


def test_jaccard_cutoff_path_has_no_array_recompute(spark):
    """The hot-shingle df-cutoff must NOT route pairs through a
    full-shingle-array recompute (the round-3 perf regression): exact
    values come from the kept-join count plus the small hot-set
    correction join. Pin: the plan carries no array_union (the
    recompute's |A∪B|), at most one array_intersect (hot correction
    only), and no join back to the full ``sh`` arrays."""
    import __spark_entry__ as m

    df = m.queries()["jaccard_pairs"](spark, "/root/testdata/sf0.001")
    plan = _plan(df)
    assert "array_union" not in plan, "full-array |A∪B| recompute is back"
    # Every array_intersect in the plan must be the hot-set correction
    # (tiny hot_a/hot_b arrays), never the full shingle sets.
    assert plan.count("array_intersect") == plan.count("array_intersect(hot_a"), (
        "array_intersect over something other than the hot correction arrays"
    )
    assert "sh_a" not in plan and "sh_b" not in plan, "joined full shingle arrays"
    # The exploded-token exchange must be shared by both join sides —
    # AQE only materializes reuse in the post-execution final plan.
    df.collect()
    executed = df._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
    assert "ReusedExchange" in executed, "self-join exchange no longer reused"


def test_simhash64_banded_join_shape(spark):
    """simhash64_hamming must stay a banded SMJ equi-join with the
    shared signature exchange reused — never an all-pairs plan, with
    the xor-popcount distance only above the join (on collisions)."""
    import __spark_entry__ as m

    df = m.queries()["simhash64_hamming"](spark, "/root/testdata/sf0.001")
    plan = _plan(df)
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert "SortMergeJoin" in plan
    df.collect()
    executed = df._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
    assert "ReusedExchange" in executed, "banded self-join exchange not reused"


def test_ivf_assignment_aggregates_before_exchange(spark, sf_dir):
    """VERDICT r4 #2: corpus-to-centroid assignment must NOT shuffle the
    corpus x centroids similarity relation. The argmax is a max_by
    aggregation whose partial phase runs inside the scan partition, so
    the only exchanges of assignment output carry one row per vector;
    the row_number window survives only on the tiny query side."""
    import __spark_entry__ as m

    plan = _plan_simple(m.queries()["ivf_topk"](spark, sf_dir))
    # min_by since the string-id-safe argmax (negated score, not id)
    assert "partial_min_by" in plan, "corpus argmax lost its map-side combine"
    # Two windows total: final top-k ranking + query-side n_probe rank.
    # A third would mean the corpus assignment went back to a window.
    assert plan.count("+- Window ") <= 2, plan
    # Both assignment cross joins stay broadcast — the corpus is never
    # the shuffled side of a nested-loop join.
    assert "CartesianProduct" not in plan


def test_propagation_round_exchanges_key_on_vertex(spark):
    """One dedup_clusters iteration: every exchange keys on the vertex
    id (a or b) and there is no cartesian/BNLJ anywhere — the plan unit
    that the fixpoint loop repeats."""
    from pyspark.sql import Row

    from m3d_engine_spark.operators.graph import propagation_round

    nodes = spark.createDataFrame([Row(a=i, component=i) for i in range(50)])
    edges = spark.createDataFrame(
        [Row(a=i, b=(i + 1) % 50) for i in range(50)]
    )
    plan = _plan(propagation_round(edges, nodes))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "HashAggregate" in plan  # min(nb_label) partial+final


def test_price_quantiles_single_exchange(spark, sf_dir):
    """Exact per-group percentiles: partial/final ObjectHashAggregate
    around ONE exchange on the group key."""
    import __spark_entry__ as m

    plan = _plan_simple(m.queries()["price_quantiles"](spark, sf_dir))
    assert plan.count("Exchange") == 1, plan
    assert "ObjectHashAggregate" in plan


def test_tfidf_and_zscore_stay_jvm_side(spark, sf_dir):
    """Corpus-statistics entries must plan without any Python operator
    and with bounded exchanges: tfidf keeps its per-doc top-k under a
    WindowGroupLimit; zscore has exactly one aggregation exchange plus
    the broadcast of the per-group stats."""
    import __spark_entry__ as m

    tfidf = _plan_simple(m.queries()["tfidf_top_terms"](spark, sf_dir))
    assert "BatchEvalPython" not in tfidf and "ArrowEvalPython" not in tfidf
    assert "WindowGroupLimit" in tfidf

    z = _plan_simple(m.queries()["quality_zscores"](spark, sf_dir))
    assert "BatchEvalPython" not in z and "ArrowEvalPython" not in z
    assert "BroadcastHashJoin" in z or "BroadcastExchange" in z
    # One shuffle for the stats agg; everything else broadcasts.
    assert z.count("Exchange hashpartitioning") <= 1, z


def test_pmi_min_count_filter_precedes_unigram_join(spark, sf_dir):
    """The rare-bigram tail must be cut before the unigram joins: the
    n_pair >= 5 filter sits on the aggregate, below both joins."""
    import __spark_entry__ as m

    plan = _plan_simple(m.queries()["pmi_bigrams"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    # The only cross joins are broadcasts of 1-row totals relations
    # (n_bigrams x n_tokens, then onto the scored rows).
    assert plan.count("BroadcastNestedLoopJoin") <= 2, plan
    # The min-count cut must happen at the bigram aggregate, before the
    # unigram joins ever see the rare tail.
    assert "Filter (n_pair" in plan or ">= 5" in plan, plan


def test_star_round_no_cartesian_and_keyed_exchanges(spark):
    from pyspark.sql import Row

    from m3d_engine_spark.operators.graph import _large_star, _small_star

    down = spark.createDataFrame(
        [Row(a=i + 1, b=i) for i in range(40)]
    )
    plan = _plan_simple(_small_star(_large_star(down)))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_decontamination_plan_shapes(spark, sf_dir):
    """repetition_stats must plan as a pure projection (zero
    exchanges); contamination_check must never go quadratic (no
    cartesian/BNLJ — the probe side joins on the shingle key)."""
    import __spark_entry__ as m

    rep = _plan_simple(m.queries()["repetition_stats"](spark, sf_dir))
    assert "Exchange" not in rep, rep
    assert "BatchEvalPython" not in rep and "ArrowEvalPython" not in rep

    con = _plan_simple(m.queries()["contamination_check"](spark, sf_dir))
    assert "CartesianProduct" not in con
    assert "BroadcastNestedLoopJoin" not in con


def test_hash_split_zero_exchanges(spark, sf_dir):
    """hash_split is a pure projection — the split assignment must add
    NO exchange and stay JVM-side."""
    from m3d_engine_spark.operators.sampling import hash_split

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = _plan_simple(hash_split(docs, "doc_id", [0.8, 0.1, 0.1]))
    assert "Exchange" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_sequence_pack_single_window_exchange(spark, sf_dir):
    """pack_sequences is ONE window per group: exactly one exchange
    (hash-partition on the group key feeding the window sort)."""
    from m3d_engine_spark.functions import text as T
    from m3d_engine_spark.operators.sampling import pack_sequences

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = pack_sequences(
        docs, ["lang"], "doc_id", T.token_count(F.col("text")), budget=4096
    )
    plan = _plan_simple(out)
    assert plan.count("Exchange") == 1, plan
    assert "Window" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_frame_sample_fanout_below_arrow_kernel(spark):
    """The row-multiplying Generate (sequence+explode fan-out) must sit
    BELOW the Arrow kernel in the plan — the JVM multiplies rows inside
    codegen; Python only ever sees already-fanned (id, sha, idx) rows."""
    from m3d_engine_spark.operators.multimodal import (
        decode_media, sample_frames, synthesize_media_from_documents,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    df = sample_frames(
        decode_media(synthesize_media_from_documents(docs)), every_k=8
    )
    plan = _plan_simple(df)
    assert "MapInPandas" in plan and "Generate" in plan, plan
    # simple mode prints parents first: the kernel node must precede
    # (= be above) the Generate that feeds it
    assert plan.index("MapInPandas") < plan.index("Generate"), plan
    assert "BatchEvalPython" not in plan


def test_fuzzy_dedup_corpus_plan(spark):
    """End-to-end fuzzy dedup: every exchange keyed (no cartesian, no
    BNLJ), no Python in the plan, and the CC stage reads the verified
    edge relation from a checkpoint (Scan ExistingRDD) — the LSH/md5
    pipeline appears nowhere in the final plan because it ran exactly
    once at checkpoint time."""
    import __spark_entry__ as m

    df = m.queries()["fuzzy_dedup_corpus"](spark, "/root/testdata/sf0.001")
    plan = _plan_simple(df)
    assert "CartesianProduct" not in plan
    # 500 docs are below the salting floor, so "auto" plans the plain
    # LSH join with no threshold broadcast; a nested-loop join that
    # appears here must have a 1-row side, and its plan line stays tiny
    bnlj = [ln for ln in plan.splitlines() if "BroadcastNestedLoopJoin" in ln]
    assert all(len(ln.strip()) < 400 for ln in bnlj), bnlj
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # labels come back from the CC loop's checkpoint: the final plan
    # joins docs against ExistingRDD scans, not a re-derivation of LSH
    assert "ExistingRDD" in plan, plan


def test_gopher_quality_zero_exchange(spark, sf_dir):
    """The Gopher quality rules are a pure projection: zero exchanges,
    no Python — the property that lets the pass run as a map over
    100 TB."""
    import __spark_entry__ as m

    plan = _plan_simple(m.queries()["gopher_quality"](spark, sf_dir))
    assert "Exchange" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_pii_scrub_zero_exchange(spark, sf_dir):
    """PII redaction is a regexp projection: zero exchanges, no
    Python."""
    import __spark_entry__ as m

    plan = _plan_simple(m.queries()["pii_scrub"](spark, sf_dir))
    assert "Exchange" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_domain_cap_window_group_limit(spark, sf_dir):
    """The per-domain cap must pre-truncate per task: WindowGroupLimit
    below the single exchange on the domain key."""
    import __spark_entry__ as m

    plan = _plan_simple(m.queries()["domain_cap"](spark, sf_dir))
    assert "WindowGroupLimit" in plan, plan
    assert plan.count("Exchange") == 1, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_curation_plan_shapes(spark, sf_dir):
    """mixture_sample: zero-exchange projection. boilerplate_lines /
    pack_materialize / unigram_lm: keyed exchanges only — no cartesian,
    no BNLJ except the 1-row totals broadcast in unigram_lm, no
    Python."""
    import __spark_entry__ as m

    mix = _plan_simple(m.queries()["mixture_sample"](spark, sf_dir))
    assert "Exchange" not in mix, mix
    assert "BatchEvalPython" not in mix and "ArrowEvalPython" not in mix

    for name, bnlj_allowed in (
        ("boilerplate_lines", 0),
        ("pack_materialize", 0),
        ("unigram_lm", 1),  # the broadcast 1-row (N, V) totals
    ):
        plan = _plan_simple(m.queries()[name](spark, sf_dir))
        assert "CartesianProduct" not in plan, name
        assert plan.count("BroadcastNestedLoopJoin") <= bnlj_allowed, (
            name, plan,
        )
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, name


def test_percentile_filter_broadcasts_cuts(spark, sf_dir):
    """The groups-sized cut relation must broadcast back onto the
    rows, never shuffle the data side."""
    import __spark_entry__ as m

    plan = _plan_simple(m.queries()["percentile_quality"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan


def test_paragraph_dedup_election_is_aggregate_not_window(spark, sf_dir):
    """The paragraph-winner election must be a (map-side combinable)
    aggregate on the hash, NOT a row_number window — a viral
    boilerplate paragraph would make one window partition corpus-sized.
    No Python, no cartesian."""
    import __spark_entry__ as m

    plan = _plan_simple(m.queries()["paragraph_dedup"](spark, sf_dir))
    assert "Window" not in plan, plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_doc_chunk_zero_exchange(spark, sf_dir):
    """Chunking is a pure fan-out projection: zero exchanges, no
    Python — it composes with any downstream partitioned write."""
    import __spark_entry__ as m

    plan = _plan_simple(m.queries()["doc_chunk"](spark, sf_dir))
    assert "Exchange" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_semantic_assignment_broadcast_centroids_single_exchange(spark):
    """The assignment's only nested-loop join is the broadcast-centroid
    cross (corpus × C centroids, C broadcastable by design), and the
    argmax exchange carries ONE row per vector (map-side combinable
    max_by), never N×C — exactly one Exchange in the whole subtree."""
    from m3d_engine_spark.operators.dedup import semantic_assignments

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    plan = _plan_simple(
        semantic_assignments(emb, "vec_id", "embedding", 125)
    )
    assert plan.count("BroadcastNestedLoopJoin") == 1, plan
    assert "CartesianProduct" not in plan, plan
    assert plan.count("Exchange") == 2, plan  # broadcast + 1 hash
    # min_by since the string-id-safe argmax (negated score, not id)
    assert "partial_min_by" in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_semantic_dedup_checkpoints_assignment_once(spark, sf_dir):
    """The assignment relation feeds three consumers; the final plan
    must read the checkpoint (ExistingRDD) three times — the N×C
    cosine pass never re-executes — and the intra-cluster pair join is
    a keyed equi-join on the cluster id, no cartesian, no Python."""
    import __spark_entry__ as m

    plan = _plan_simple(m.queries()["semantic_dedup"](spark, sf_dir))
    assert plan.count("ExistingRDD") == 3, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def _incremental_candidates(spark, monkeypatch, build):
    """``build()``'s frame plus the candidate-pair relation that
    ``incremental_dedup`` lazily ``localCheckpoint``-s: the final plan
    reads the pairs as ``Scan ExistingRDD``, so the band join, its salted
    stream and its exchange reuse are only visible in the candidate
    relation's own plan, captured here as it enters the checkpoint."""
    cls = type(spark.range(1))
    checkpoint = cls.localCheckpoint
    lazy = []

    def spy(self, eager=True, storageLevel=None):
        if not eager:
            lazy.append(self)
        return checkpoint(self, eager, storageLevel)

    monkeypatch.setattr(cls, "localCheckpoint", spy)
    df = build()
    (cand,) = [c for c in lazy if c.columns == ["new_id", "old_id"]]
    return df, cand


def test_incremental_dedup_keyed_joins_only(spark, sf_dir, monkeypatch):
    """Cross-batch dedup: fingerprint anti-join + band equi-join +
    Jaccard verify — every join keyed, no cartesian, no BNLJ, no
    Python; the existing corpus is never self-joined. Checked on the
    final plan and on the candidate relation behind its checkpoint."""
    import __spark_entry__ as m

    df, cand = _incremental_candidates(
        spark, monkeypatch,
        lambda: m.queries()["incremental_dedup"](spark, sf_dir),
    )
    cand_plan = _plan_simple(cand)
    for plan in (_plan_simple(df), cand_plan):
        assert "CartesianProduct" not in plan, plan
        # in-plan auto-salt: the threshold broadcast is the only
        # permitted nested-loop join (1-row side, tiny plan line)
        bnlj = [ln for ln in plan.splitlines() if "BroadcastNestedLoopJoin" in ln]
        assert all(len(ln.strip()) < 400 for ln in bnlj), bnlj
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "_salt_part" in cand_plan, cand_plan  # the salted stream exists


def test_bigram_lm_broadcast_vocab_only_bnlj(spark, sf_dir):
    """Bigram LM: pair/context counts join on their keys; the only
    BNLJ is the broadcast 1-row vocabulary aggregate."""
    import __spark_entry__ as m

    plan = _plan_simple(m.queries()["bigram_lm"](spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    assert plan.count("BroadcastNestedLoopJoin") <= 1, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_distinct_report_sketch_is_single_exchange(spark, sf_dir):
    """The HLL tier must partial-aggregate sketches map-side: one hash
    exchange on the group key, no Expand, no second distinct pass —
    the property that makes the report O(groups), not O(values)."""
    from m3d_engine_spark.operators.reporting import group_distinct_report

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    plan = _plan_simple(
        group_distinct_report(ev, ["event_type"], "user_id", rsd=0.02)
    )
    assert plan.count("Exchange") == 1, plan
    assert "Expand" not in plan, plan
    assert "partial_approx_count_distinct" in plan, plan


def test_dsir_ratio_table_broadcasts_and_topn_is_take_ordered(spark, sf_dir):
    """dsir_select: the B-row ratio relation must broadcast onto the
    corpus-sized doc-bucket counts, and the Gumbel top-n must compile
    to TakeOrderedAndProject (per-partition limit + ordered take), not
    a global Sort."""
    from m3d_engine_spark.operators.selection import (
        dsir_log_weights,
        gumbel_resample,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = gumbel_resample(
        dsir_log_weights(docs, F.col("lang") == "en", "doc_id", "text", 512),
        "doc_id",
        n=200,
    )
    plan = _plan_simple(out)
    assert "BroadcastHashJoin" in plan, plan
    assert "TakeOrderedAndProject" in plan, plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_robust_scale_broadcasts_cuts(spark, sf_dir):
    """robust_scale: the per-group cuts relation joins back broadcast —
    rows never re-shuffle on the group key."""
    from m3d_engine_spark.operators.normalize import robust_scale

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = _plan_simple(
        robust_scale(docs.select("doc_id", "lang", "n_chars"), ["lang"], "n_chars")
    )
    assert "BroadcastHashJoin" in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_rolling_zscore_single_window_exchange(spark, sf_dir):
    """rolling_zscore_flags: ONE exchange (hash on the entity key
    feeding the window sort); everything else projection, no Python."""
    from m3d_engine_spark.operators.anomaly import rolling_zscore_flags

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    out = rolling_zscore_flags(
        ev.select("event_id", "ts", "user_id", "value"),
        "user_id",
        ["ts", "event_id"],
        "value",
    )
    plan = _plan_simple(out)
    assert plan.count("Exchange") == 1, plan
    assert "Window" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_session_rollup_uses_native_session_aggregation(spark, sf_dir):
    """session_rollup compiles to Spark's dedicated merging-session
    aggregation (MergingSessions; UpdatingSessions on the streaming
    side) with a map-side partial merge — not a generic window +
    groupBy rewrite — and stays JVM-side with ONE keyed exchange."""
    from m3d_engine_spark.streaming.pipeline import session_rollup

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    plan = _plan_simple(session_rollup(ev.select("user_id", "ts", "value")))
    assert "MergingSessions" in plan, plan
    assert plan.count("Exchange") == 1, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_curation_pipeline_two_keyed_exchanges(spark, sf_dir):
    """curation_pipeline: gate+scrub+fingerprint+split are all
    projection — only the dedup election exchanges data (agg + join,
    both keyed on the fingerprint). No Python, no cartesian."""
    from m3d_engine_spark.operators.curation import curation_pipeline

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = _plan_simple(
        curation_pipeline(docs.select("doc_id", "text"), "doc_id", "text")
    )
    assert plan.count("Exchange") <= 2, plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_two_stage_ann_corpus_never_shuffles_before_coarse(spark, sf_dir):
    """projected_rerank_topk: the coarse scan must be a broadcast
    nested-loop against the reduced queries (corpus unexchanged), the
    only Python the ONE Arrow projection kernel per side, and no
    CartesianProduct anywhere."""
    from m3d_engine_spark.operators.similarity import projected_rerank_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") % 25 == 0)
    plan = _plan_simple(
        projected_rerank_topk(emb, q, "vec_id", "embedding", dim=64)
    )
    assert "BroadcastNestedLoopJoin" in plan, plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    # Arrow kernels: the quantized projection only (corpus + query sides)
    assert plan.count("ArrowEvalPython") <= 4, plan


def test_top_terms_single_count_aggregation(spark, sf_dir):
    """group_top_terms: one keyed count aggregation + WindowGroupLimit;
    no Python, nothing quadratic."""
    from m3d_engine_spark.operators.reporting import group_top_terms

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = _plan_simple(group_top_terms(docs, ["lang"], "text", k=5))
    assert "WindowGroupLimit" in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_ccnet_buckets_no_corpus_window(spark, sf_dir):
    """ccnet_buckets: the tercile machinery must window over the tiny
    score HISTOGRAM, never the corpus — so the plan's Window nodes sit
    above an aggregate, the cut relation broadcasts back, and the doc
    relation itself is never sorted per language."""
    from m3d_engine_spark.operators.curation import ccnet_buckets

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = _plan_simple(ccnet_buckets(docs, "doc_id", "text", "lang"))
    assert "BroadcastHashJoin" in plan, plan
    assert "Window" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_hard_negatives_corpus_never_shuffles(spark, sf_dir):
    """hard_negative_topk: brute topology — broadcast queries, corpus
    side unexchanged below the ranking window."""
    from m3d_engine_spark.operators.similarity import hard_negative_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") % 25 == 0)
    plan = _plan_simple(
        hard_negative_topk(emb, q, "vec_id", "embedding", "label", k=3)
    )
    assert "BroadcastNestedLoopJoin" in plan, plan
    # the ranking window's hash exchange only (broadcasts aside)
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_temperature_mixture_corpus_never_exchanges(spark, sf_dir):
    """temperature_mixture: the only hash exchange is the groups-sized
    count aggregation; rates broadcast back onto the corpus and the
    keep decision is projection."""
    from m3d_engine_spark.operators.curation import temperature_mixture

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = _plan_simple(temperature_mixture(docs, "doc_id", "source"))
    assert "BroadcastHashJoin" in plan, plan
    # the counts subtree prints twice statically (rates + n_min sides);
    # both are the IDENTICAL group-key exchange, which AQE's exchange
    # reuse collapses at runtime — the corpus itself never exchanges
    assert plan.count("Exchange hashpartitioning") <= 2, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_sliding_rollup_expand_below_single_exchange(spark, sf_dir):
    """sliding_rollup: the 4x window fan-out is an Expand INSIDE the
    scan stage; the partial aggregate combines it map-side so one keyed
    exchange carries per-(task, window) rows, not 4x the events."""
    from m3d_engine_spark.streaming.pipeline import sliding_rollup

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    plan = _plan_simple(sliding_rollup(ev.select("user_id", "ts")))
    assert "Expand" in plan, plan
    assert "HashAggregate" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_repeated_spans_all_joins_keyed(spark, sf_dir):
    """remove_repeated_spans: gram join keyed on the md5 hash, rebuild
    join keyed on the doc id — no cartesian, no BNLJ, no Python; the
    winner election is an aggregate, not a window."""
    from m3d_engine_spark.operators.dedup import remove_repeated_spans

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = _plan_simple(remove_repeated_spans(docs, "doc_id", "text"))
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "Window" not in plan, "election must stay an aggregate"


def test_bm25_query_terms_broadcast_topk_grouplimit(spark, sf_dir):
    """bm25_topk: the query-term relation broadcasts onto the postings
    (the corpus never shuffles a second time for the probe join); the
    only BNLJ is the broadcast 1-row stats relation; top-k per query
    runs as WindowGroupLimit below its exchange; all JVM-side."""
    import __spark_entry__ as m

    plan = _plan_simple(m.queries()["bm25_topk"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan
    assert plan.count("BroadcastNestedLoop") <= 1, plan
    assert "CartesianProduct" not in plan
    assert "WindowGroupLimit" in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_zorder_key_is_projection_with_broadcast_bounds(spark, sf_dir):
    """zorder_key: the min/max bounds relation is the single broadcast
    1-row BNLJ; the scaling + bit interleave are pure projection — the
    data side has ZERO hash exchanges."""
    import __spark_entry__ as m

    plan = _plan_simple(m.queries()["zorder_key"](spark, sf_dir))
    assert plan.count("BroadcastNestedLoop") == 1, plan
    assert "Exchange hashpartitioning" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_zorder_write_range_partitions_on_key(spark, sf_dir, tmp_path):
    """zorder_write: ONE range exchange on the Z-key (sampled balanced
    bounds) + in-partition sort — the same cost as a 1-column sorted
    write; read-back files carry disjoint Z-ranges, which is what makes
    parquet footer stats prune in every interleaved dimension."""
    from m3d_engine_spark.sources.layout import zorder_key

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_linenumber", "l_partkey", "l_suppkey"
    )
    keyed = zorder_key(li, ["l_partkey", "l_suppkey"], bits=8, key_col="_z")
    staged = keyed.repartitionByRange(4, F.col("_z")).sortWithinPartitions("_z")
    assert "rangepartitioning" in _plan_simple(staged).lower()
    loc = str(tmp_path / "zordered")
    staged.write.parquet(loc)
    ranges = (
        spark.read.parquet(loc)
        .groupBy(F.input_file_name().alias("f"))
        .agg(F.min("_z").alias("lo"), F.max("_z").alias("hi"))
        .orderBy("lo")
        .collect()
    )
    assert len(ranges) > 1
    for prev, cur in zip(ranges, ranges[1:]):
        assert prev.hi <= cur.lo, (prev, cur)


def test_containment_pairs_keyed_join_only(spark, sf_dir):
    """containment_pairs with the df-cutoff ON: inverted-index
    self-join keyed on (block, shingle-hash) — no cartesian, no BNLJ,
    no Python. The hot-shingle df window count partitions on the SAME
    (block, shingle) key the SMJ shuffles on (exchange reusable), and
    the exact-|A∩B| correction arrives as left joins ABOVE the pair
    aggregate, never a join back to full shingle arrays."""
    import __spark_entry__ as m

    plan = _plan_simple(m.queries()["containment_pairs"](spark, sf_dir))
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "SortMergeJoin" in plan, plan
    # the df window keys on the join's own (block, shingle) columns
    assert "Window" in plan, plan
    assert "array_union" not in plan  # no full-array recompute path


def test_snapshot_diff_single_keyed_join(spark, sf_dir):
    """snapshot_diff: fingerprints are map-side projections; the whole
    diff is ONE full-outer sort-merge join on the business key — one
    exchange per side, nothing else moves."""
    import __spark_entry__ as m

    plan = _plan_simple(m.queries()["snapshot_diff"](spark, sf_dir))
    assert "FullOuter" in plan, plan
    assert plan.count("SortMergeJoin") == 1, plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan
    assert "Window" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_sq8_encode_is_broadcast_projection(spark, sf_dir):
    """sq_quantize: the dim-sized bounds relation is the single
    broadcast BNLJ; encode + error are projections — the embedding
    data side has ZERO hash exchanges (the bounds aggregation's
    exchange carries <= dim rows, keyed on the dim index)."""
    import __spark_entry__ as m

    plan = _plan_simple(m.queries()["sq_quantize"](spark, sf_dir))
    assert plan.count("BroadcastNestedLoop") == 1, plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_pq_encode_projection_no_explode(spark, sf_dir):
    """pq_encode: the codebook is the single broadcast BNLJ; the
    per-subspace argmin is a nested array fold — NO Generate (the
    N×k×m exploded relation the projection form exists to avoid), no
    hash exchange on the data side, no Python."""
    import __spark_entry__ as m

    plan = _plan_simple(m.queries()["pq_encode"](spark, sf_dir))
    assert plan.count("BroadcastNestedLoop") == 1, plan
    assert "Generate" not in plan, plan
    assert "Exchange hashpartitioning" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_record_linkage_blocked_equi_join(spark, sf_dir):
    """record_linkage: candidates come from a keyed equi-join on the
    block columns — never a cross join; similarity scoring is
    pair-local projection; best-match is WindowGroupLimit."""
    import __spark_entry__ as m

    plan = _plan_simple(m.queries()["record_linkage"](spark, sf_dir))
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan
    assert "WindowGroupLimit" in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_quality_classifier_zero_exchange(spark, sf_dir):
    """score_quality: model inference is a map-side projection — no
    exchange of any kind, no Python."""
    import __spark_entry__ as m

    plan = _plan_simple(m.queries()["quality_classifier"](spark, sf_dir))
    assert "Exchange" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_nation_volume_broadcasts_dims(spark, sf_dir):
    """nation_volume: supplier and customer broadcast (two BHJs); the
    fact-side joins stay keyed; no BNLJ, no cartesian."""
    import __spark_entry__ as m

    plan = _plan_simple(m.queries()["nation_volume"](spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 2, plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan


def test_top_supplier_max_is_broadcast_not_window(spark, sf_dir):
    """top_supplier: the scalar max arrives as a broadcast 1-row
    aggregate — Catalyst even turns the equality filter into a
    BroadcastHashJoin on the (normalized) revenue value; assert the
    broadcast family and that NO global Window over the revenue
    relation (and no cartesian) sneaks in."""
    import __spark_entry__ as m

    plan = _plan_simple(m.queries()["top_supplier"](spark, sf_dir))
    assert "BroadcastExchange" in plan, plan
    assert "CartesianProduct" not in plan
    assert "Window" not in plan, plan


def test_data_profile_single_pass(spark, sf_dir):
    """profile_table: every per-column metric folds into ONE aggregate
    over one scan — a single hash exchange carrying 1-row partials; the
    stack unpivot adds no exchange. Profiling k columns costs one pass,
    not k."""
    import __spark_entry__ as m

    plan = _plan_simple(m.queries()["data_profile"](spark, sf_dir))
    assert plan.count("Scan parquet") == 1, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    sketch = _plan_simple(
        __import__(
            "m3d_engine_spark.operators.reporting", fromlist=["profile_table"]
        ).profile_table(
            spark.read.parquet(f"{sf_dir}/orders.parquet"),
            ["o_orderkey", "o_custkey"],
            exact=False,
        )
    )
    # the sketch tier must not plan the count_distinct Expand
    assert "Expand" not in sketch, sketch
    assert sketch.count("Exchange") <= 1, sketch


def test_ivfpq_probe_is_keyed_equi_join(spark, sf_dir):
    """ivfpq_search: candidates come from the cell-keyed equi-join
    between the codes relation and the broadcast (query, probed-cell)
    list — a BroadcastHashJoin, never a corpus-wide cross join (the
    only BNLJs are the 1-row model broadcasts of corpus/query prep);
    the ADC shortlist runs as WindowGroupLimit; zero Python."""
    import __spark_entry__ as m

    plan = _plan_simple(m.queries()["ivfpq_search"](spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "WindowGroupLimit" in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_pagerank_rounds_are_keyed_joins(spark):
    """pagerank returns the full lazy recurrence: every round is an
    equi-join on src plus a sum aggregate on dst — no cartesian/BNLJ
    anywhere in the 5-round plan, no Python, and the checkpointed edge
    and node relations are read per round as RDD scans (ExistingRDD),
    never recomputed."""
    from m3d_engine_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (2, 1), (3, 2), (1, 3)],
        "src long, dst long",
    )
    plan = _plan_simple(pagerank(edges, iterations=5))
    joins = (
        plan.count("SortMergeJoin")
        + plan.count("BroadcastHashJoin")
        + plan.count("ShuffledHashJoin")
    )
    assert joins == 2 * 5, plan  # the rank join and the rebuild, per round
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoop" not in plan, plan
    assert "ExistingRDD" in plan and "InMemoryTableScan" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_blame_supplier_semi_anti_keyed(spark, sf_dir):
    """blame_supplier (Q21 shape): both correlations compile to KEYED
    semi/anti joins on l_orderkey (suppkey inequality as the join
    refine) — no cartesian; orders and supplier broadcast."""
    import __spark_entry__ as m

    plan = _plan_simple(m.queries()["blame_supplier"](spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    assert "LeftSemi" in plan, plan
    assert "LeftAnti" in plan, plan
    assert plan.count("BroadcastHashJoin") >= 2, plan


def test_weighted_sample_empty_strata_no_global_sort(spark):
    """weighted_sample with EMPTY strata (a global top-n race): this
    Spark build plans the rank-filtered single-partition window as
    TakeOrderedAndProject — each task keeps its local top-n and only
    n·tasks rows are merged; the corpus is never globally sorted and
    never crosses a SinglePartition exchange. Pinned for the global
    form (the stratified form has its own WindowGroupLimit pin) so a
    Spark upgrade cannot silently regress this to a full
    single-partition sort. rank_weighted_sample (__spark_entry__) is
    the consuming entry."""
    from m3d_engine_spark.operators.sampling import weighted_sample

    df = spark.range(1000).select(
        F.col("id").alias("k"), (F.col("id") % 7 + 1).alias("w")
    )
    out = weighted_sample(df, [], 50, "k", "w")
    plan = _plan(out)
    # the per-task top-n + bounded merge shape; either node bounds the
    # rows that reach the single partition
    assert "TakeOrderedAndProject" in plan or "WindowGroupLimit" in plan, plan
    # and nothing may sort or exchange the full relation globally
    assert "Exchange SinglePartition" not in plan, plan
    assert "\n(0) Sort" not in plan and "+- Sort" not in plan, plan


def test_runtime_bloom_filter_injected_on_selective_join(spark, sf_dir):
    """Runtime bloom-filter join pruning (session default, pinned in
    session.py): a selective non-broadcast build side must inject
    bloom_filter_agg over its join keys and a might_contain filter on
    the probe side's scan. The injection thresholds are sized for
    cluster scale (probe scan >= 10 GB), so this pin lowers the
    application-side threshold to observe the shape locally; the conf
    being default-on is asserted separately. order_revenue is the
    consuming shape (selective orders vs lineitem-sized probe)."""
    assert (
        spark.conf.get("spark.sql.optimizer.runtime.bloomFilter.enabled")
        == "true"
    )
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    prev = {k: spark.conf.get(k) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        orders = spark.read.parquet(f"{sf_dir}/orders.parquet").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        j = li.join(orders, li.l_orderkey == orders.o_orderkey).select(
            "l_orderkey", "l_extendedprice"
        )
        plan = _plan(j)
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)
    assert "bloom_filter_agg" in plan, plan
    assert "might_contain" in plan, plan


def test_event_transitions_single_corpus_exchange(spark, sf_dir):
    """transition_matrix: one hash exchange on the key feeds the lead
    window; the per-from totals window runs over the aggregated pair
    relation (states²-sized), never the events scan. Pin: no Python,
    no cartesian, and the only SinglePartition-free exchanges are
    keyed."""
    import __spark_entry__ as m

    plan = _plan_simple(m.queries()["event_transitions"](spark, sf_dir))
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    final = plan.split("Initial Plan")[0]
    # user_id window exchange + pair-agg exchange + from_state totals
    # window exchange (tiny, over the aggregate) — and nothing more
    assert final.count("Exchange hashpartitioning") <= 3, plan


def test_benford_audit_window_over_census_not_scan(spark, sf_dir):
    """benford_audit: the digit census aggregate sits BELOW the global
    totals window, so the single-partition exchange carries 9 rows per
    group, never the column scan. Pin: HashAggregate appears before
    the SinglePartition exchange in the bottom-up chain, and no float
    log/pow bucketing exists anywhere."""
    import __spark_entry__ as m

    plan = _plan(m.queries()["benford_audit"](spark, sf_dir))
    assert "LOG" not in plan and "POWER" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # top-down tree: Window above its exchange above the census
    # aggregate — the window's exchange moves aggregate output only
    tree = plan.split("(1) Scan")[0]
    w = tree.find("Window")
    ex = tree.find("Exchange", w)
    agg = tree.find("HashAggregate", ex)
    assert 0 <= w < ex < agg, tree


def test_ngram_novelty_keyed_join_no_text_exchange(spark, sf_dir):
    """ngram_novelty: df aggregation and join move 8-byte xxhash64
    keys; shingle text never crosses an exchange. Pin: keyed joins
    only, and no exchange output carries the shingle string column."""
    import __spark_entry__ as m

    plan = _plan(m.queries()["ngram_novelty"](spark, sf_dir))
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan
    assert "xxhash64" in plan, plan
    for seg in plan.split("Exchange hashpartitioning")[1:]:
        first_line = seg.splitlines()[0]
        assert "_s#" not in first_line, first_line


def test_lsh_calibration_candidate_sized_verify(spark, sf_dir):
    """lsh_calibration: candidates from the banded self-equi-join;
    signature compare + exact verify are keyed joins; no cartesian,
    no Python, no global window."""
    import __spark_entry__ as m

    plan = _plan(m.queries()["lsh_calibration"](spark, sf_dir))
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "Exchange SinglePartition" not in plan, plan


def test_hits_checkpointed_rounds_stay_bounded(spark):
    """hits(): the lazy per-half-round checkpoints must keep the plan
    SIZE linear in iterations — the doubly-referenced normalization
    aggregate would otherwise double the tree per half-round (OOM in
    stringification by round 3). Pin: the 3-round plan string stays
    under a generous fixed bound and contains checkpoint scans."""
    from m3d_engine_spark.operators.graph import hits

    e = spark.range(200).selectExpr("id % 14 AS src", "(id * id) % 23 + 100 AS dst")
    out = hits(e, iterations=3)
    plan = _plan_simple(out)
    assert "ExistingRDD" in plan or "Scan ExistingRDD" in plan, plan[:500]
    assert len(plan) < 200_000, len(plan)


def test_skipgram_pair_generation_is_projection(spark, sf_dir):
    """skipgram_pairs: the ±w pair fan-out must be a flatten
    PROJECTION over the token scan — a positional self-join would
    shuffle token positions (at 100 TB, the corpus ×w). Pin: no join
    below the pair-count aggregate; the only joins are the two
    vocabulary-sized unigram lookups + the broadcast totals."""
    import __spark_entry__ as m

    plan = _plan_simple(m.queries()["skipgram_pairs"](spark, sf_dir))
    final = plan.split("Initial Plan")[0]
    # 2 unigram joins + 1 broadcast-totals BNLJ and nothing else
    joins = (
        final.count("SortMergeJoin")
        + final.count("BroadcastHashJoin")
        + final.count("ShuffledHashJoin")
    )
    assert joins == 2, final
    # totals ride as two 1-row broadcast BNLJs (n_pairs × n_tokens,
    # then onto the scored relation) — anything more is a regression
    assert final.count("BroadcastNestedLoopJoin") <= 2, final
    assert "CartesianProduct" not in final


def test_scd2_history_single_exchange(spark, sf_dir):
    """SCD2 build: the change-detect lag window and the validity
    lead/version window share ONE exchange on the key (the filter
    between them preserves partitioning and ordering), and the whole
    history build stays JVM-side."""
    import __spark_entry__ as m

    plan = _plan_simple(m.queries()["scd2_history"](spark, sf_dir))
    assert plan.count("Exchange") == 1, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_length_batches_single_exchange_jvm_side(spark, sf_dir):
    """Bucketed batch assembly: bucket/cap/shard/waste are projections;
    the ONLY exchange is the (bucket, shard) window for batch
    numbering; no Python anywhere."""
    import __spark_entry__ as m

    plan = _plan_simple(m.queries()["length_batches"](spark, sf_dir))
    assert plan.count("Exchange") == 1, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_embedding_cov_bounded_aggregate_broadcast_joins(spark, sf_dir):
    """Covariance matrix: the pair aggregate is the only
    hashpartitioning exchange carrying d²-bounded rows; the per-dim
    sums and n attach via broadcast (no SortMergeJoin anywhere); no
    Python."""
    import __spark_entry__ as m

    plan = _plan_simple(m.queries()["embedding_cov"](spark, sf_dir))
    assert "SortMergeJoin" not in plan, plan
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_bloom_probe_never_shuffles_probed_side(spark, sf_dir):
    """The Bloom probe is k map-side broadcast joins: the probed
    relation reaches the AND projection with ZERO hashpartitioning
    exchanges on its side (only the build aggregate shuffles, inside
    the checkpointed filter relation), and no SortMergeJoin exists."""
    from pyspark.sql import functions as F

    from m3d_engine_spark.operators.bloom import bloom_build, bloom_probe

    cust = spark.read.parquet(f"{sf_dir}/customer.parquet").select("c_custkey")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    bl = bloom_build(
        orders.select(F.col("o_custkey").alias("k")).distinct(),
        "k", m_bits=4096, k=3,
    )
    plan = _plan_simple(bloom_probe(cust, bl, "c_custkey", m_bits=4096, k=3))
    assert "SortMergeJoin" not in plan
    # filter is a checkpointed RDD; probe side plans only broadcasts
    assert plan.count("Exchange hashpartitioning") == 0, plan
    assert plan.count("BroadcastHashJoin") == 3


def test_gap_fill_and_rolling_median_single_exchange(spark, sf_dir):
    """Both trailing-frame operators: ONE exchange on the key — the
    two interpolation frames (and the median's collect_list buffer)
    share the same partitioning+sort; no Python anywhere."""
    import __spark_entry__ as m

    for entry in ("gap_fill", "rolling_med"):
        plan = _plan_simple(m.queries()[entry](spark, sf_dir))
        assert plan.count("Exchange") == 1, (entry, plan)
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_session4_entries_no_cartesian_no_python(spark, sf_dir):
    """Blanket shape pin for every session-4 registry entry: no
    CartesianProduct anywhere, and no row-at-a-time or Arrow Python
    operator (every one of these is a pure-JVM plan). BNLJ is allowed
    only where a broadcast probe is the documented design
    (hybrid/rbo's brute cosine run; 1-row stats broadcasts)."""
    import __spark_entry__ as m

    entries = [
        "scd2_history", "kanon_census", "hybrid_retrieval",
        "length_batches", "countmin_audit", "embedding_cov",
        "interval_join", "bpe_pairs", "bloom_prune", "zipf_fit",
        "join_estimate", "phrase_search", "label_spread", "grouped_ols",
        "gap_fill", "rolling_med", "ab_welch", "rbo_overlap",
        "fastss_pairs", "deepwalk_pairs", "feature_hash",
        "source_overlap",
    ]
    qs = m.queries()
    for name in entries:
        plan = _plan_simple(qs[name](spark, sf_dir))
        assert "CartesianProduct" not in plan, name
        assert "BatchEvalPython" not in plan, name
        assert "ArrowEvalPython" not in plan, name


def test_rendezvous_projection_and_expectations_single_scan(spark, sf_dir):
    """HRW assignment is a pure projection (zero exchanges below the
    census aggregate — exactly one Exchange in the whole entry);
    the expectations gate reads its table exactly ONCE no matter how
    many rules it checks."""
    import __spark_entry__ as m

    hrw = _plan_simple(m.queries()["rendezvous_shards"](spark, sf_dir))
    assert hrw.count("Exchange") == 1, hrw
    exp = _plan_simple(m.queries()["expectations"](spark, sf_dir))
    assert exp.count("FileScan parquet") == 1, exp


def test_tpch_sweep_shapes(spark, sf_dir):
    """The round-7 TPC-H completion sweep (Q10/Q13/Q14/Q17/Q19/Q22
    shapes) pins, per query, the one plan property that makes it
    scale:

    - order_dist: orders aggregate BEFORE the outer join (the join
      carries |customers| rows, never |orders|) — the per-custkey
      HashAggregate must sit below the join, and nothing is
      cartesian/Python.
    - returned_items: top-20 is TakeOrderedAndProject (never a global
      sort of the rollup).
    - untapped_customers: the "no recent order" cut is a BROADCAST
      anti join (the customer table never shuffles for it).
    - small_qty_revenue: the fact table is never hash-exchanged — the
      only keyed exchange is the per-part stats aggregate; the stats
      rejoin is broadcast.
    - disjunct_revenue: the part-only implication of the OR-of-ANDs
      reaches the part scan as pushed filters.
    - promo_share: single scan of lineitem with the ship-month
      predicate pushed.
    """
    import __spark_entry__ as m

    qs = m.queries()

    od = qs["order_dist"](spark, sf_dir)
    od_simple = _plan_simple(od)
    assert "CartesianProduct" not in od_simple
    assert "BatchEvalPython" not in od_simple and "ArrowEvalPython" not in od_simple
    # aggregate-below-join: the orders scan's partial aggregate on
    # o_custkey appears deeper (further indented) than the outer join
    od_final = od_simple.split("Initial Plan")[0]
    join_depth = min(
        line.index("SortMergeJoin") if "SortMergeJoin" in line else line.index("BroadcastHashJoin")
        for line in od_final.splitlines()
        if ("SortMergeJoin" in line or "BroadcastHashJoin" in line)
    )
    agg_depths = [
        len(line) - len(line.lstrip(" +:-"))
        for line in od_final.splitlines()
        if "HashAggregate" in line and "o_custkey" in line
    ]
    assert agg_depths and max(agg_depths) > join_depth, od_final

    ri = _plan_simple(qs["returned_items"](spark, sf_dir))
    assert "TakeOrderedAndProject" in ri, ri

    uc = _plan_simple(qs["untapped_customers"](spark, sf_dir))
    assert "LeftAnti, BuildRight" in uc.replace("LeftAnti BuildRight", "LeftAnti, BuildRight"), uc
    assert "SortMergeJoin LeftAnti" not in uc, uc

    sq = _plan_simple(qs["small_qty_revenue"](spark, sf_dir))
    sq_final = sq.split("Initial Plan")[0]
    keyed = [
        ln for ln in sq_final.splitlines() if "Exchange hashpartitioning" in ln
    ]
    assert len(keyed) == 1 and "l_partkey" in keyed[0], sq_final

    dj = _plan(qs["disjunct_revenue"](spark, sf_dir))
    part_scan = [
        blk for blk in dj.split("\n\n")
        if "part.parquet" in blk and "PushedFilters" in blk
    ]
    assert part_scan and "p_brand" in part_scan[0], dj[:4000]

    ps = _plan(qs["promo_share"](spark, sf_dir))
    li_scan = [
        blk for blk in ps.split("\n\n")
        if "lineitem.parquet" in blk and "PushedFilters" in blk
    ]
    assert li_scan and "l_shipdate" in li_scan[0], ps[:4000]


def test_analytics_batch_shapes(spark, sf_dir):
    """Round-7 analytics-completeness batch pins:

    - grouping_sets_census: ONE Expand (single-pass 4× fan-out) and
      ONE keyed exchange — four grouping sets never become four jobs.
    - window_suite: all seven window functions share one spec → ONE
      Window node over ONE exchange.
    - ewma_revenue: the fact table appears exactly twice (the two
      day-rollup subtrees) and the weighted band join is the
      documented broadcast nested-loop over the day-sized relation;
      exactly the two rollup keyed exchanges — the final per-day
      aggregate reuses the rollup's partitioning (alias-aware), no
      third exchange.
    - mad_outliers: both stats rejoins broadcast — the events relation
      is never hash-exchanged.
    """
    import __spark_entry__ as m

    qs = m.queries()

    gs = _plan_simple(qs["grouping_sets_census"](spark, sf_dir))
    gs_final = gs.split("Initial Plan")[0]
    assert gs_final.count("Expand") == 1, gs_final
    assert gs_final.count("Exchange hashpartitioning") == 1, gs_final

    ws = _plan_simple(qs["window_suite"](spark, sf_dir))
    ws_final = ws.split("Initial Plan")[0]
    assert ws_final.count("Window") == 1, ws_final
    assert ws_final.count("Exchange hashpartitioning") == 1, ws_final

    ew = _plan_simple(qs["ewma_revenue"](spark, sf_dir))
    ew_final = ew.split("Initial Plan")[0]
    assert ew_final.count("FileScan parquet") == 2, ew_final
    assert "BroadcastNestedLoopJoin" in ew_final, ew_final
    assert ew_final.count("Exchange hashpartitioning") == 2, ew_final

    mo = _plan_simple(qs["mad_outliers"](spark, sf_dir))
    mo_final = mo.split("Initial Plan")[0]
    assert "SortMergeJoin" not in mo_final, mo_final
    # med is checkpointed (k rows), so events is scanned exactly twice
    # (MAD pass + fence pass) and every stats rejoin is broadcast
    assert mo_final.count("FileScan parquet") == 2, mo_final
    assert mo_final.count("BroadcastHashJoin") == 3, mo_final


def test_bitext_mine_candidate_checkpoint(spark, sf_dir):
    """margin_mine: the scored candidate relation is checkpointed once,
    so the final plan reads it as ExistingRDD three times (k-NN stats
    per side + best match) and contains NO parquet scan and no Python
    operator — the cosine cross join executes exactly once."""
    import __spark_entry__ as m

    plan = _plan_simple(m.queries()["bitext_mine"](spark, sf_dir))
    final = plan.split("Initial Plan")[0]
    assert final.count("Scan ExistingRDD") == 3, final
    assert final.count("FileScan parquet") == 0, final
    assert "BatchEvalPython" not in final and "ArrowEvalPython" not in final


def test_margin_mine_lsh_tier_has_no_cross_join(spark, sf_dir):
    """margin_candidate_pairs(candidates='seeded_lsh') — the exact
    relation margin_mine checkpoints — must contain no nested-loop /
    cartesian node: pairs come from the banded (table, bucket)
    equi-join and the vectors hash-join back. The broadcast tier, by
    contrast, IS the (broadcast-bounded) nested-loop — pinned too so a
    silent tier mixup fails loudly."""
    from pyspark.sql import functions as F

    from m3d_engine_spark.operators.similarity import margin_candidate_pairs

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    sa = emb.filter(F.col("vec_id") % 2 == 0)
    sb = emb.filter(F.col("vec_id") % 2 == 1)
    lsh = _plan_simple(
        margin_candidate_pairs(
            sa, sb, "vec_id", "embedding", candidates="seeded_lsh", dim=64
        )
    )
    assert "NestedLoop" not in lsh and "Cartesian" not in lsh, lsh
    assert "ArrowEvalPython" in lsh, lsh  # the one matmul per side
    exact = _plan_simple(
        margin_candidate_pairs(sa, sb, "vec_id", "embedding")
    )
    assert "BroadcastNestedLoopJoin" in exact, exact


def test_customer_analytics_shapes(spark, sf_dir):
    """Customer-analytics batch pins: the fact table pays exactly ONE
    keyed exchange in each entry; every window runs over rollup-sized
    relations.

    - rfm_segments: one o_custkey rollup exchange; the quintile
      windows sort the customer rollup (SinglePartition exchanges),
      never the orders scan.
    - revenue_concentration: one o_custkey rollup exchange; decile
      cut + shares over customer/decile-sized relations.
    - order_gap_stats: the lag window and the per-segment percentile
      rollup share/bound their exchanges; customer broadcast.
    """
    import __spark_entry__ as m

    qs = m.queries()
    for name in ("rfm_segments", "revenue_concentration"):
        plan = _plan_simple(qs[name](spark, sf_dir))
        final = plan.split("Initial Plan")[0]
        keyed = [
            ln for ln in final.splitlines()
            if "Exchange hashpartitioning" in ln
        ]
        assert len(keyed) == 1 and "o_custkey" in keyed[0], (name, final)
        assert "BatchEvalPython" not in final and "CartesianProduct" not in final

    gp = _plan_simple(qs["order_gap_stats"](spark, sf_dir))
    gp_final = gp.split("Initial Plan")[0]
    assert "BroadcastHashJoin" in gp_final, gp_final
    assert gp_final.count("Exchange hashpartitioning") <= 2, gp_final


def test_melt_and_spine_shapes(spark, sf_dir):
    """metrics_melt: the unpivot is an Expand over the segment-sized
    rollup — one keyed exchange total, no extra exchange for the
    melt. daily_spine: the generated calendar is a Generate (explode
    of sequence) over the 1-row bounds aggregate; the day-rollup join
    is broadcast; the fact pays keyed rollup exchanges only."""
    import __spark_entry__ as m

    qs = m.queries()

    mm = _plan_simple(qs["metrics_melt"](spark, sf_dir))
    mm_final = mm.split("Initial Plan")[0]
    assert "Expand" in mm_final, mm_final
    assert mm_final.count("Exchange hashpartitioning") == 1, mm_final

    ds = _plan_simple(qs["daily_spine"](spark, sf_dir))
    ds_final = ds.split("Initial Plan")[0]
    assert "Generate explode" in ds_final, ds_final
    assert "BroadcastHashJoin" in ds_final, ds_final
    assert "CartesianProduct" not in ds_final, ds_final


def test_no_registry_entry_reinlines_expensive_exprs_into_predicates(
    spark, sf_dir
):
    """The round-8 pushdown-hazard sweep, made permanent: Catalyst
    substitutes aliases through Projects when pushing predicates, at
    ANY expression cost — a Filter (or a derived equi-join null check)
    over an expensive projection column re-evaluates it per row, and
    when the predicate fuses into a BroadcastNestedLoopJoin condition,
    per PAIR. That is how pq_topk lost 1.4× in round 7 (the forall
    guard) and ivfpq_search re-ran its cell argmin per corpus row (the
    join-derived isnotnull). This walks every registry entry's
    optimized plan and flags:

    * any nested-loop join whose condition carries heavy lambda
      machinery (the per-pair catastrophe),
    * any Filter stuffed with >6 lambda nodes (a re-inlined fold), and
    * (round 10) any CartesianProduct anywhere — a non-broadcast cross
      join is never the intended plan in this repo (intentional
      broadcast-scalar crossJoins compile to BroadcastNestedLoopJoin);
      verified 0/201 when the guard was added.

    Known bounded exception: curation_pipeline's min-length Filter
    inlines the (lambda-free) tokenize expression — a per-row 2×
    documented in PLANS.md, not a per-pair blowup, so the lambda
    heuristic deliberately does not fire on it.
    """
    from concurrent.futures import ThreadPoolExecutor

    import __spark_entry__ as m

    def offenders(item):
        name, fn = item
        plan = _plan_simple(fn(spark, sf_dir))
        hits = []
        for raw in plan.split("\n"):
            line = raw.strip()
            heavy = line.count("lambdafunction") > 6
            if "CartesianProduct" in line:
                hits.append((name, "cartesian", len(line), line[:140]))
            elif "NestedLoopJoin" in line and (heavy or len(line) > 1500):
                hits.append((name, "bnlj", len(line), line[:140]))
            elif line.startswith(("Filter", "+- Filter")) and heavy:
                hits.append((name, "filter", len(line), line[:140]))
        return hits

    with ThreadPoolExecutor(max_workers=10) as ex:
        results = list(ex.map(offenders, m.queries().items()))
    bad = [h for r in results for h in r]
    assert bad == [], bad


def test_jaccard_salted_plan_shape(spark):
    """The hot-shingle salted fallback (ngram_jaccard_pairs salt_df=)
    must split into exactly two SMJ streams — the cold self-join on
    (block, shingle) with its exchange still reused, and the salted
    join whose equi-key GAINS the bucket column (the straggler fix:
    one hot key's pairs spread over salt_buckets tasks) — with no
    cartesian/BNLJ anywhere and the pair aggregation above the union."""
    from m3d_engine_spark.operators.dedup import ngram_jaccard_pairs
    from m3d_engine_spark.sources.testdata import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    df = ngram_jaccard_pairs(
        docs, "doc_id", "text", ["source"], 3, 0.2, salt_df=2, salt_buckets=4
    )
    plan = _plan_simple(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    smj = [ln for ln in plan.splitlines() if "SortMergeJoin" in ln]
    assert len(smj) == 2, plan
    salted = [ln for ln in smj if "_salt_part#" in ln]
    assert len(salted) == 1, "exactly one join must carry the salt key"
    df.collect()
    executed = df._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
    assert "ReusedExchange" in executed, "cold self-join exchange not reused"


def test_lsh_candidates_salted_plan_shape(spark):
    """Salted banded-candidate join: two SMJ streams (cold exchange
    reused; salted key carries the part column), no cartesian/BNLJ."""
    from m3d_engine_spark.operators.dedup import minhash_lsh_candidates
    from m3d_engine_spark.sources.testdata import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    df = minhash_lsh_candidates(docs, "doc_id", "text", salt_size=2, salt_parts=4)
    plan = _plan_simple(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    smj = [ln for ln in plan.splitlines() if "SortMergeJoin" in ln]
    assert len(smj) == 2, plan
    assert sum("_salt_part#" in ln for ln in smj) == 1
    df.collect()
    executed = df._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
    assert "ReusedExchange" in executed


def test_record_linkage_salted_plan_shape(spark):
    """Salted record linkage: the block-count relation joins back via
    BROADCAST joins (bounded at N/salt_size rows), the pair join stays
    a keyed equi-join carrying the part column, and nothing degrades
    to a cartesian/BNLJ."""
    from m3d_engine_spark.operators.linkage import record_linkage

    left = spark.createDataFrame(
        [(i, "b", f"n{i}") for i in range(6)], "lid long, blk string, name string"
    )
    right = spark.createDataFrame(
        [(100 + i, "b", f"n{i}") for i in range(6)],
        "rid long, blk string, name string",
    )
    df = record_linkage(
        left, right, "lid", "rid", ["blk"], {"name": 1.0},
        threshold=0.1, keep=2, salt_size=2, salt_parts=4,
    )
    plan = _plan_simple(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan  # bc_hot onto both sides
    assert "_part" in plan  # the salted equi-key


def test_fuzzy_dedup_auto_inplan_shape(spark):
    """The round-11 'auto' salt default is fully IN-PLAN: the candidate
    stage carries the two-stream salted shape (cold SMJ + salted SMJ
    with the part key) with the threshold arriving as a 1-ROW broadcast
    (BNLJ of the histogram fold — the only nested-loop joins allowed,
    and their plan lines must stay tiny), no CartesianProduct, no
    Python, no checkpoint of the band relation (the only ExistingRDD is
    the composition's edge checkpoint), and at runtime the cold
    exchange is still REUSED (the LSH pipeline evaluates once)."""
    from m3d_engine_spark.operators.dedup import minhash_lsh_candidates
    from m3d_engine_spark.sources.testdata import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    df = minhash_lsh_candidates(docs, "doc_id", "text", salt_size="auto")
    plan = _plan_simple(df)
    assert "CartesianProduct" not in plan
    smj = [ln for ln in plan.splitlines() if "SortMergeJoin" in ln]
    assert len(smj) == 2, plan
    assert sum("_salt_part#" in ln for ln in smj) == 1
    bnlj = [ln for ln in plan.splitlines() if "BroadcastNestedLoopJoin" in ln]
    assert bnlj and all(len(ln.strip()) < 400 for ln in bnlj), bnlj
    df.collect()
    executed = df._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
    assert "ReusedExchange" in executed


def _live_file_scans(df, path_substr: str) -> int:
    """Count DISTINCT materialized FileSourceScan nodes whose string
    mentions ``path_substr`` in the EXECUTED (post-AQE) plan — the
    runtime ground truth for 'how many times did this file's lineage
    evaluate'. Walks into query stages and ReusedExchange targets,
    deduping by JVM object identity, so a stage shared by N consumers
    counts its scan ONCE while a missed reuse (fresh stage, fresh scan
    node) counts again. String-counting the ``toString()`` output is
    NOT a substitute: AdaptiveSparkPlan prints an ``== Initial Plan ==``
    section where every logical occurrence appears un-reused."""
    jvm = df.sparkSession._jvm  # noqa: SLF001
    system = jvm.java.lang.System
    seen: set[int] = set()
    count = 0

    def walk(node):
        nonlocal count
        ident = system.identityHashCode(node)
        if ident in seen:
            return
        seen.add(ident)
        cls = node.getClass().getSimpleName()
        if "QueryStage" in cls:
            walk(node.plan())
            return
        if cls.startswith("ReusedExchange"):
            walk(node.child())
            return
        if "FileSourceScan" in cls and path_substr in node.toString():
            count += 1
        for i in range(node.children().size()):
            walk(node.children().apply(i))

    root = df._jdf.queryExecution().executedPlan()  # noqa: SLF001
    if root.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        root = root.executedPlan()
    walk(root)
    return count


def test_incremental_dedup_auto_reuses_corpus_exchange(spark, monkeypatch):
    """``incremental_dedup(salt_size='auto')``'s big-side path makes the
    same evaluated-ONCE promise as the self-join helper
    (``salted_big_side_join`` docstring), but through a different
    construction: the corpus band relation feeds the cold SMJ, the hot
    slice, the broadcast hot-key set AND the broadcast threshold fold.
    The promise holds through runtime stage reuse at the corpus
    minhash exchange (canonically identical under every branch) — a
    silently missed reuse would re-run the corpus shingle → minhash
    pipeline per branch at scale. Pin the runtime ground truth: the
    corpus parquet contributes exactly TWO distinct materialized scans
    (one under the shared LSH lineage, one for the shingle-verify
    relation) and at least one exchange is reused. The LSH lineage
    runs in the candidate relation's own plan, behind its checkpoint:
    the scans are counted over both plans, the reuse in that one."""
    from m3d_engine_spark.operators.incremental import incremental_dedup
    from m3d_engine_spark.sources.testdata import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text"
    )
    batch = docs.filter(F.col("doc_id") % 7 == 0)
    corpus = docs.filter(F.col("doc_id") % 7 != 0)
    df, cand = _incremental_candidates(
        spark, monkeypatch,
        lambda: incremental_dedup(batch, corpus, "doc_id", "text", salt_size="auto"),
    )
    df.collect()
    executed = cand._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
    assert "ReusedExchange" in executed, executed[:3000]
    scans = _live_file_scans(cand, "documents") + _live_file_scans(df, "documents")
    assert scans == 2, executed[:3000]


def test_incremental_artifact_hot_split_plan(spark, tmp_path):
    """Batch join against artifacts that carry hot_bands: the hot
    buckets route through the salted stream (equi-key gains
    _salt_part), the hot relation broadcasts, and with broadcast
    capped the COLD branch still reads the bucketed corpus side with
    no Exchange above its scan — splitting hot buckets must not cost
    the cold path its exchange-free join."""

    from m3d_engine_spark.operators.incremental import (
        incremental_dedup_against_artifacts,
        materialize_dedup_artifacts,
    )
    from m3d_engine_spark.sources.testdata import load_table

    corpus = load_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text"
    )
    from conftest import drop_table_clean

    table = "t_r11_hot_split_bands"
    drop_table_clean(spark, table)
    batch = corpus.filter(F.col("doc_id") % 7 == 0)
    try:
        arts = materialize_dedup_artifacts(
            corpus, "doc_id", "text", str(tmp_path / "arts"),
            bands_table=table, num_buckets=4, salt_size=2,
        )
        assert "hot_bands" in arts
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        # small enough that the corpus side won't broadcast (the pin
        # needs the SMJ) but the tiny hot relation still does
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "1024")
        try:
            df = incremental_dedup_against_artifacts(
                batch, arts, "doc_id", "text", salt_parts=4
            )
            plan = _plan_simple(df)
            assert "CartesianProduct" not in plan
            assert "BroadcastNestedLoopJoin" not in plan
            assert "_salt_part" in plan, plan  # the hot stream exists
            # cold branch: bucketed corpus scan feeds its SMJ with no
            # Exchange in between (formatted tree: walk up from the
            # bucketed scan node id)
            fplan = _plan(df)
            assert "Bucketed: true" in fplan, fplan
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    finally:
        drop_table_clean(spark, table)


def test_salted_self_join_inert_under_aqe_skew_split(spark):
    """AQE-interplay pin (VERDICT r10 item 7): the salted self-join
    plans deliberately bypass AQE's skew-join splitting — the cold
    stream pins ReusedExchange, and AQE skips splitting joins whose
    shuffle is reused. This must stay true even under
    forceOptimizeSkewedJoin, or a future Spark upgrade could silently
    double-split what the salt already spread (same pairs computed
    twice the shuffle). Executed plan: ReusedExchange present, no SMJ
    marked skew=true."""
    from m3d_engine_spark.operators.dedup import minhash_lsh_candidates
    from m3d_engine_spark.sources.testdata import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    prev = spark.conf.get("spark.sql.adaptive.forceOptimizeSkewedJoin", "false")
    spark.conf.set("spark.sql.adaptive.forceOptimizeSkewedJoin", "true")
    try:
        df = minhash_lsh_candidates(
            docs, "doc_id", "text", salt_size=2, salt_parts=4
        )
        df.collect()
        executed = df._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
        assert "ReusedExchange" in executed, executed
        for ln in executed.splitlines():
            if "SortMergeJoin" in ln:
                assert "skew=true" not in ln, ln
    finally:
        spark.conf.set("spark.sql.adaptive.forceOptimizeSkewedJoin", prev)


def test_dedup_advisor_histogram_window_only(spark, sf_dir):
    """The pre-flight advisor must never sort or single-partition the
    bucket relation: its only Window runs over the SIZE histogram
    (rows = distinct bucket sizes), the scalar stat relations meet via
    broadcast nested-loop joins of 1-row sides, and the bucket counts
    partial-aggregate map-side."""
    import __spark_entry__ as m

    df = m.queries()["dedup_advisor"](spark, sf_dir)
    plan = _plan_simple(df)
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert plan.count("Window") == 1, plan
    # the Window's child chain must contain the histogram aggregate
    # (HashAggregate keyed on k) — i.e. the window input is the
    # histogram, not the raw bucket relation
    win_idx = plan.find("Window")
    below = plan[win_idx:]
    agg_idx = below.find("HashAggregate")
    assert agg_idx != -1, plan


def test_market_share_single_aggregation_broadcast_dims(spark, sf_dir):
    """Q8 analogue: all six dimension sides broadcast (no SMJ for
    part/customer/nation/region/supplier), the share numerator is a
    conditional sum INSIDE the one year-keyed aggregate — exactly one
    hash-key Exchange of aggregate partials, no fact-side self-join,
    no cartesian, the p_type filter pushed to the part scan."""
    import __spark_entry__ as m

    df = m.queries()["market_share"](spark, sf_dir)
    plan = _plan_simple(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("SortMergeJoin") <= 1, plan  # lineitem⋈orders only
    assert plan.count("BroadcastHashJoin") >= 5, plan
    fplan = _plan(df)
    # the ECONOMY filter reaches the part scan as a pushed filter: the
    # literal must appear inside SOME PushedFilters segment (a Filter
    # node elsewhere in the plan does not count — no fallback here, a
    # lost pushdown must fail the test)
    pushed_segments = [
        seg.split("ReadSchema")[0]
        for seg in fplan.split("PushedFilters")[1:]
    ]
    assert any("ECONOMY" in seg for seg in pushed_segments), fplan[:2000]


def test_product_profit_broadcast_dims_pushed_like(spark, sf_dir):
    """Q9 analogue: part/supplier/nation broadcast, lineitem⋈orders is
    the only SMJ, the name pattern pushes to the part scan as a
    StringContains filter, one keyed aggregation."""
    import __spark_entry__ as m

    df = m.queries()["product_profit"](spark, sf_dir)
    plan = _plan_simple(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("SortMergeJoin") <= 1, plan
    assert plan.count("BroadcastHashJoin") >= 3, plan
    fplan = _plan(df)
    assert "StringContains" in fplan or "red" in fplan.split(
        "PushedFilters"
    )[1].split("ReadSchema")[0], fplan[:1500]


def test_fse_string_select_conditions_prune_partitioned_scan(spark, tmp_path):
    """The reference-format "col=value" select_conditions strings (new
    round 12) must reach the scan as PartitionFilters exactly like the
    structured pair form — string values against int partition columns
    included (Catalyst casts the literal, pruning survives)."""
    from m3d_engine_spark.config import ParamsFile
    from m3d_engine_spark.operators.fixed_size_extractor import (
        FixedSizeStringExtractorAlgorithm,
    )

    loc = str(tmp_path / "src")
    spark.createDataFrame(
        [(f"AAA {i}", 2020 + i % 3, 1 + i % 2) for i in range(60)],
        "value string, year int, month int",
    ).write.partitionBy("year", "month").parquet(loc)
    spark.read.parquet(loc).createOrReplaceTempView("fse_prune_source")

    algo = FixedSizeStringExtractorAlgorithm(
        spark,
        ParamsFile(
            {
                "source_table": "fse_prune_source",
                "source_field": "value",
                "substring_positions": ["1,3", "5,6"],
                "target_fields": ["tag", "num"],
                "target_types": ["string", "int"],
                "target_partitions": ["year", "month"],
                "select_conditions": ["year=2021", "month=1"],
                "target_location": str(tmp_path / "out"),
            }
        ),
    )
    out = algo.transform(algo.read())[0]
    plan = _plan(out)
    pf = plan.split("PartitionFilters")[1].split("\n")[0]
    assert "year" in pf and "2021" in pf and "month" in pf, pf


def test_spread_output_files_single_roundrobin_exchange(spark):
    """number_output_partitions (the reference's round-robin knob) must
    add exactly ONE RoundRobinPartitioning exchange — not a hash
    shuffle, and nothing extra above it."""
    from m3d_engine_spark.sources.writers import repartitioned

    df = spark.createDataFrame(
        [(i, 2020 + i % 2) for i in range(50)], "k int, year int"
    )
    shaped = repartitioned(df, 5, ["year"], spread=True)
    plan = shaped._jdf.queryExecution().executedPlan().toString()
    assert "roundrobin" in plan.lower(), plan
    assert plan.lower().count("exchange") == 1, plan


def test_suffix_tier_plan_shapes(spark, sf_dir):
    """The round-13 suffix tier's load-bearing plan properties.

    exact_substr: the doubling cascade is cut by lazy localCheckpoints
    at every self-join — the final plan hangs off Scan ExistingRDD
    leaves instead of re-deriving the upstream cascade per branch
    (zero ReusedExchange + exponential recompute was the measured
    failure mode), and the removal tail stays keyed: no cartesian, no
    nested-loop join anywhere.

    decontaminate_spans: the contaminated-class relation is
    benchmark-sized and must reach the cover join as a BROADCAST —
    a sort-merge there would shuffle the train-side class relation a
    second time for a probe that fits in one executor.
    """
    import __spark_entry__ as m

    qs = m.queries()
    es = _plan_simple(qs["exact_substr"](spark, sf_dir))
    assert "ExistingRDD" in es, es
    assert "CartesianProduct" not in es and "NestedLoopJoin" not in es, es

    dc = _plan_simple(qs["decontaminate_spans"](spark, sf_dir))
    assert "BroadcastHashJoin" in dc, dc
    assert "CartesianProduct" not in dc and "NestedLoopJoin" not in dc, dc


def test_incremental_exact_substr_state_probe_plan(spark, tmp_path):
    """The round-15 incremental ExactSubstr contract, at the plan
    level: the batch never touches the accepted lake — the state
    artifact scan is COLUMN-PRUNED to (gh, cnt) plus its partition
    tag (never a text column), the count fold sits ABOVE a LeftSemi
    probe down to the batch's own window set (only state rows the
    batch can touch are aggregated), and the whole job stays keyed:
    no cartesian, no nested-loop join, no Python."""
    from m3d_engine_spark.operators.suffix import incremental_exact_substr

    state_loc = str(tmp_path / "state")
    spark.createDataFrame(
        [("h1", 2), ("h2", 1)], "gh string, cnt long"
    ).write.parquet(state_loc + "/batch_tag=n1")
    batch = spark.createDataFrame(
        [(10, "a b c d e f g h tail")], "doc_id int, text string"
    )
    from pyspark.sql import functions as F

    state = (
        spark.read.parquet(state_loc)
        .filter(F.col("batch_tag").cast("string") != "n2")
        .select("gh", "cnt")
    )
    clean, _ = incremental_exact_substr(
        batch, "doc_id", "text", state, span_tokens=8
    )
    plan = _plan(clean)
    # the only file scan in this job is the state artifact (the batch
    # is a local relation), and it must be COLUMN-PRUNED to its own
    # columns — a text/tk column in any ReadSchema would mean the
    # lake is being re-read
    scans = [
        ln for ln in plan.splitlines() if ln.strip().startswith("ReadSchema")
    ]
    assert scans, plan
    for rs in scans:
        assert "gh" in rs and "text" not in rs, rs
    simple = _plan_simple(clean)
    assert "LeftSemi" in simple, simple
    assert "CartesianProduct" not in simple, simple
    assert "BatchEvalPython" not in simple and "ArrowEvalPython" not in simple


def test_bucketed_window_count_state_probe_is_exchange_free(
    spark, tmp_path
):
    """The 100 TB deployment shape for incremental ExactSubstr
    (suffix.py::materialize_window_count_table): the folded
    window-count state, bucketed+sorted on gh, feeds the nightly
    probe with NO state-side Exchange — only the batch side shuffles
    into the bucket layout, and the downstream fold/election
    aggregates ride the same partitioning. The plan's only Exchanges
    are batch-side."""

    from m3d_engine_spark.operators.suffix import (
        incremental_exact_substr,
        materialize_window_count_table,
    )

    state_loc = str(tmp_path / "state")
    spark.createDataFrame(
        [(f"h{i}", i % 3 + 1) for i in range(50)], "gh string, cnt long"
    ).write.parquet(state_loc + "/batch_tag=n1")
    from conftest import drop_table_clean

    drop_table_clean(spark, "wc_state")
    materialize_window_count_table(spark, state_loc, "wc_state",
                                   num_buckets=4)
    batch = spark.createDataFrame(
        [(10, "a b c d e f g h tail")], "doc_id int, text string"
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        clean, _ = incremental_exact_substr(
            batch, "doc_id", "text", spark.table("wc_state"),
            span_tokens=8,
        )
        plan = _plan(clean)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    # the bucketed scan must reach its SortMergeJoin without an
    # Exchange between them: no plan line between the state scan and
    # its join is an Exchange on the state branch — pin it as "the
    # scan's bucket count survives": SelectedBucketsCount present and
    # every Exchange in the plan sits on LocalTableScan-derived
    # (batch) branches, i.e. the plan has exactly the batch-side
    # exchanges and no exchange whose child subtree contains the
    # bucketed scan.
    assert "SelectedBucketsCount" in plan or "Bucketed: true" in plan, plan
    simple = _plan_simple(clean)
    state_branch = [
        ln for ln in simple.splitlines() if "wc_state" in ln
    ]
    assert state_branch, simple
    # structural pin: in the tree, the bucketed scan's immediate
    # ancestors up to its SortMergeJoin carry no Exchange. The
    # "simple" tree prints depth by indentation; walk upward from the
    # scan line and assert no Exchange appears at shallower depth
    # before the first *Join line.
    lines = simple.splitlines()
    scan_idx = next(
        i for i, ln in enumerate(lines) if "wc_state" in ln
    )
    def depth(ln):
        return len(ln) - len(ln.lstrip(" :+-"))
    d0 = depth(lines[scan_idx])
    for i in range(scan_idx - 1, -1, -1):
        ln = lines[i]
        if depth(ln) >= d0:
            continue
        if "Join" in ln:
            break  # reached the probe join with no Exchange between
        assert "Exchange" not in ln, (
            "state branch shuffles despite bucketing:\n" + simple
        )
        d0 = depth(ln)
    assert "SortMergeJoin" in simple, simple
    spark.sql("DROP TABLE wc_state")


def test_state_table_probe_cli_plan_is_exchange_free(spark, tmp_path):
    """Round 16: the fold_state table wired into the PROBE path — the
    plan the CLI itself builds with ``state_table`` set (not a
    hand-assembled relation) keeps the bucketed state side
    exchange-free with an UNFOLDED tag dir in play: Catalyst pushes
    the probe's LeftSemi below the table∪dirs union, the bucketed
    scan reaches its join with no Exchange between them, and only the
    batch side (plus the recent-batch-sized unfolded dir) shuffles.
    The nightly lake-scale cost the r15 verdict flagged — whole-state
    exchange every night — is gone from the CLI plan."""
    from conftest import drop_table_clean

    from m3d_engine_spark.config import ParamsFile
    from m3d_engine_spark.operators.base import REGISTRY, unpersist_checkpoints
    from m3d_engine_spark.operators.suffix import (
        materialize_window_count_table,
    )

    state_loc = str(tmp_path / "state")
    spark.createDataFrame(
        [(f"h{i}", i % 3 + 1) for i in range(50)], "gh string, cnt long"
    ).write.parquet(state_loc + "/batch_tag=n1")
    drop_table_clean(spark, "wc_state_cli")
    materialize_window_count_table(
        spark, state_loc, "wc_state_cli", num_buckets=4
    )
    # a post-fold nightly tag the table does not cover yet
    spark.createDataFrame(
        [("g1", 1)], "gh string, cnt long"
    ).write.parquet(state_loc + "/batch_tag=n2")
    src = str(tmp_path / "src")
    spark.createDataFrame(
        [(10, "a b c d e f g h tail")], "doc_id int, text string"
    ).write.parquet(src)
    algo = REGISTRY["ExactSubstrDedup"](spark, ParamsFile({
        "source_location": src,
        "state_location": state_loc,
        "batch_tag": "n3",
        "state_table": "wc_state_cli",
        "target_location": str(tmp_path / "out"),
    }))
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        algo.prepare()
        clean = algo.transform(algo.read())[0]
        plan = _plan(clean)
        simple = _plan_simple(clean)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        unpersist_checkpoints(algo._checkpointed)
        algo._checkpointed.clear()
    assert "SelectedBucketsCount" in plan or "Bucketed: true" in plan, plan
    lines = simple.splitlines()
    scan_idx = next(
        i for i, ln in enumerate(lines) if "wc_state_cli" in ln
    )

    def depth(ln):
        return len(ln) - len(ln.lstrip(" :+-"))

    d0 = depth(lines[scan_idx])
    for i in range(scan_idx - 1, -1, -1):
        ln = lines[i]
        if depth(ln) >= d0:
            continue
        if "Join" in ln:
            break  # the probe join, reached with no state-side shuffle
        assert "Exchange" not in ln, (
            "state-table branch shuffles despite bucketing:\n" + simple
        )
        d0 = depth(ln)
    # the unfolded dir rides its OWN LeftSemi below the union — the
    # pushdown actually split the probe rather than shuffling the union
    assert simple.count("LeftSemi") >= 2, simple
    spark.sql("DROP TABLE wc_state_cli")


def test_scrubbed_ids_table_probe_cli_plan_is_exchange_free(
    spark, tmp_path
):
    """The Decontaminate sibling of the window-count probe pin: with
    ``state_table`` set, the CLI-built scrub plan anti-joins the
    id-bucketed fold FIRST — the lake-sized id relation reaches its
    SortMergeJoin with no Exchange — and the not-yet-folded recent
    tag dir chains as a second anti-join (the manual
    ``train ANTI (A ∪ B) == (train ANTI A) ANTI B`` rewrite: a union
    would have destroyed the bucketed distribution)."""
    from conftest import drop_table_clean

    from m3d_engine_spark.config import ParamsFile
    from m3d_engine_spark.operators.base import REGISTRY
    from m3d_engine_spark.operators.suffix import (
        materialize_scrubbed_ids_table,
    )

    state_loc = str(tmp_path / "state")
    spark.createDataFrame(
        [(i,) for i in range(50)], "doc_id int"
    ).write.parquet(state_loc + "/batch_tag=n1")
    drop_table_clean(spark, "ids_state_cli")
    materialize_scrubbed_ids_table(
        spark, state_loc, "ids_state_cli", id_col="doc_id",
        num_buckets=4,
    )
    # a post-fold nightly tag the table does not cover yet
    spark.createDataFrame(
        [(900,)], "doc_id int"
    ).write.parquet(state_loc + "/batch_tag=n2")
    src = str(tmp_path / "src")
    spark.createDataFrame(
        [(10, "a b c d e f g h tail")], "doc_id int, text string"
    ).write.parquet(src)
    probes = str(tmp_path / "probes")
    spark.createDataFrame(
        [(9, "m n o p q")], "doc_id int, text string"
    ).write.parquet(probes)
    algo = REGISTRY["Decontaminate"](spark, ParamsFile({
        "source_location": src,
        "probe_location": probes,
        "state_location": state_loc,
        "batch_tag": "n3",
        "state_table": "ids_state_cli",
        "span_tokens": 3,
        "target_location": str(tmp_path / "out"),
    }))
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        algo.prepare()
        out = algo.transform(algo.read())[0]
        plan = _plan(out)
        simple = _plan_simple(out)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        from m3d_engine_spark.operators.base import unpersist_checkpoints

        unpersist_checkpoints(algo._checkpointed)
        algo._checkpointed.clear()
    assert "SelectedBucketsCount" in plan or "Bucketed: true" in plan, plan
    assert simple.count("LeftAnti") >= 2, simple
    lines = simple.splitlines()
    scan_idx = next(
        i for i, ln in enumerate(lines) if "ids_state_cli" in ln
    )

    def depth(ln):
        return len(ln) - len(ln.lstrip(" :+-"))

    d0 = depth(lines[scan_idx])
    for i in range(scan_idx - 1, -1, -1):
        ln = lines[i]
        if depth(ln) >= d0:
            continue
        if "Join" in ln:
            break  # the anti-join, reached with no state-side shuffle
        assert "Exchange" not in ln, (
            "ids-table branch shuffles despite bucketing:\n" + simple
        )
        d0 = depth(ln)
    spark.sql("DROP TABLE ids_state_cli")



def _condense_nodes(df, key: str) -> tuple[int, int]:
    """(ranking ``Window`` nodes, exchanges hash-partitioned on
    ``key``) in the final plan ``df`` ran."""
    df.collect()
    executed = df._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
    final = executed.split("== Initial Plan ==")[0]
    return (
        final.count("Window ["),
        final.count(f"Exchange hashpartitioning({key}#"),
    )


_CDC_ROWS = [(1, 1, 11, 20240101, "N"), (2, 1, 12, 20240101, "N"),
             (1, 2, 20, 20240102, "D"), (1, 4, 40, 20240102, "")]


def test_delta_load_merge_condenses_once(spark, tmp_path):
    """DeltaLoad's merge reads ``condensed`` twice (anti-join keys,
    upserts). Column pruning gives the two reads two plans, each with
    its own ranking window behind its own business-key shuffle; pinned
    as one checkpoint, both reads scan one computed relation. Inputs
    are parquet, as in a load: the checkpoint keeps their size
    estimate, so the condensed keys still broadcast."""
    from m3d_engine_spark.config import ParamsFile
    from m3d_engine_spark.operators.base import unpersist_checkpoints
    from m3d_engine_spark.operators.delta_load import DeltaLoadAlgorithm

    delta, active = str(tmp_path / "delta"), str(tmp_path / "active")
    spark.createDataFrame(
        _CDC_ROWS, "ts int, k int, v int, date int, recordmode string"
    ).write.parquet(delta)
    spark.createDataFrame(
        [(k, 10 * k, 20240100 + k, 2024, 1) for k in (1, 2, 3)],
        "k int, v int, date int, year int, month int",
    ).write.partitionBy("year", "month").parquet(active)
    algo = DeltaLoadAlgorithm(spark, ParamsFile({
        "business_key": ["k"],
        "technical_key": ["ts"],
        "target_partitions": ["year", "month"],
        "partition_column": "date",
        "partition_column_format": "yyyyMMdd",
    }))
    try:
        merged = algo.transform(
            [spark.read.parquet(delta), spark.read.parquet(active)]
        )[0]
        nodes = _condense_nodes(merged, "k")
        rows = sorted((r.k, r.v) for r in merged.collect())
    finally:
        unpersist_checkpoints(algo._checkpointed)
    assert rows == [(1, 12), (3, 30), (4, 40)]
    assert nodes == (0, 0), "the merge runs the condense window per read"


def test_delta_lake_load_degenerate_merge_condenses_once(spark, tmp_path):
    """DeltaLakeLoad with no ``delta_table_dir`` merges straight into
    the lake through the same ``merge_delta``; its ``condensed`` is
    pinned without ``target_partitions`` too, so the window runs
    once."""
    from m3d_engine_spark.config import ParamsFile
    from m3d_engine_spark.operators.base import unpersist_checkpoints
    from m3d_engine_spark.operators.delta_lake_load import (
        DeltaLakeLoadAlgorithm,
    )

    src, lake = str(tmp_path / "src"), str(tmp_path / "lake")
    spark.createDataFrame(
        _CDC_ROWS, "ts int, k int, v int, date int, recordmode string"
    ).write.parquet(src)
    spark.createDataFrame(
        [(k, 10 * k, 20240100 + k) for k in (1, 2, 3)], "k int, v int, date int"
    ).write.parquet(lake)
    algo = DeltaLakeLoadAlgorithm(spark, ParamsFile({
        "business_key": ["k"],
        "technical_key": ["ts"],
        "target_location": lake,
    }))
    try:
        merged = algo.transform([spark.read.parquet(src)])[0]
        nodes = _condense_nodes(merged, "k")
        rows = sorted((r.k, r.v) for r in merged.collect())
    finally:
        unpersist_checkpoints(algo._checkpointed)
    assert rows == [(1, 12), (3, 30), (4, 40)]
    assert nodes == (0, 0), "the merge runs the condense window per read"
