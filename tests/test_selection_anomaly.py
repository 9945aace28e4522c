"""DSIR selection, robust scaling, rolling anomaly, native session
windows."""

import datetime

import pytest
from pyspark.sql import functions as F

# Slow lane since round 8 (VERDICT r7 item 5 - default-lane budget):
# the selection/anomaly suite runs once per session via `-m slow`; nothing deleted.
pytestmark = pytest.mark.slow

from m3d_engine_spark.operators.anomaly import rolling_zscore_flags
from m3d_engine_spark.operators.normalize import robust_scale
from m3d_engine_spark.operators.selection import (
    dsir_log_weights,
    gumbel_resample,
)
from m3d_engine_spark.streaming.pipeline import session_rollup


def _ts(minutes: float):
    return datetime.datetime(2024, 1, 1) + datetime.timedelta(minutes=minutes)


def test_dsir_weights_rank_target_like_docs_higher(spark):
    # Target slice speaks "alpha beta"; off-target speaks "gamma delta".
    rows = (
        [(i, "alpha beta alpha beta alpha", "en") for i in range(10)]
        + [(100 + i, "gamma delta gamma delta gamma", "xx") for i in range(10)]
        # held-out docs, one per dialect, NOT in the target slice:
        + [(200, "alpha beta alpha", "xx"), (201, "gamma delta gamma", "xx")]
    )
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    w = {
        r.doc_id: r.log_w
        for r in dsir_log_weights(
            docs, F.col("lang") == "en", "doc_id", "text", n_buckets=64
        ).collect()
    }
    assert w[200] > w[201], w
    # target-distribution docs carry positive evidence, off-target negative
    assert w[0] > 0 > w[100]


def test_gumbel_resample_is_deterministic_and_sized(spark):
    docs = spark.createDataFrame(
        [(i, float(i % 7) - 3.0) for i in range(100)], "doc_id long, log_w double"
    )
    a = gumbel_resample(docs, "doc_id", n=25)
    assert a.count() == 25
    ids1 = sorted(r.doc_id for r in a.collect())
    ids2 = sorted(r.doc_id for r in gumbel_resample(docs, "doc_id", n=25).collect())
    assert ids1 == ids2


def test_robust_scale_quartiles_and_zero_iqr(spark):
    rows = [("a", v) for v in [1, 2, 3, 4, 5]] + [("b", 7)] * 4
    df = spark.createDataFrame(rows, "g string, x int")
    out = {(r.g, r.x): r.r for r in robust_scale(df, ["g"], "x").collect()}
    # group a: q1=2, med=3, q3=4 → iqr=2; x=5 → (5-3)/2 = 1.0
    assert out[("a", 5)] == 1.0
    assert out[("a", 1)] == -1.0
    assert out[("a", 3)] == 0.0
    # constant group: iqr 0 → NULL
    assert out[("b", 7)] is None


def test_rolling_zscore_flags_spike_and_min_history(spark):
    rows = [(i, _ts(i), 1, 10.0 + (0.1 if i % 2 else -0.1)) for i in range(20)]
    rows.append((20, _ts(20), 1, 50.0))  # spike after stable history
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, value double"
    )
    out = {
        r.event_id: (r.z, r.is_anomaly)
        for r in rolling_zscore_flags(
            df, "user_id", ["ts", "event_id"], "value"
        ).collect()
    }
    # fewer than min_history prior events → NULL z, false flag
    for i in range(8):
        assert out[i] == (None, False)
    z, flag = out[20]
    assert flag and z > 3.0


def test_session_rollup_native_boundary_semantics(spark):
    # gap handling: exactly +30min still merges (break only when the
    # gap is STRICTLY exceeded), +30min1s starts a new session, and
    # session_end is last-event + gap.
    df = spark.createDataFrame(
        [
            (1, _ts(0), 1.0),
            (1, _ts(30), 2.0),  # exactly the gap → merges
            (1, _ts(30 + 30 + 1 / 60), 4.0),  # 30m1s after → new session
        ],
        "user_id long, ts timestamp, value double",
    )
    out = sorted(
        session_rollup(df, gap="30 minutes").collect(),
        key=lambda r: r.session_start,
    )
    assert [(r.n_events, r.sum_value) for r in out] == [(2, 3.0), (1, 4.0)]
    assert out[0].session_end == out[0].session_start + datetime.timedelta(
        minutes=60
    )


def test_session_rollup_streaming_matches_batch(spark, tmp_path):
    offs = [0, 10, 50, 60, 120, 125]  # → 3 sessions per user at gap=30
    rows = [
        (u, _ts(u * 3 + offs[k]), float(u + k)) for u in range(5) for k in range(6)
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, value double")
    src = tmp_path / "sess_src"
    df.write.parquet(str(src))
    stream = (
        spark.readStream.schema("user_id long, ts timestamp, value double")
        .parquet(str(src))
    )
    q = (
        session_rollup(stream, gap="30 minutes")
        .writeStream.format("memory")
        .queryName("native_sess")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(180)
    got = {
        (r.user_id, r.session_start, r.session_end, r.n_events, r.sum_value)
        for r in spark.sql("SELECT * FROM native_sess").collect()
    }
    want = {
        (r.user_id, r.session_start, r.session_end, r.n_events, r.sum_value)
        for r in session_rollup(df, gap="30 minutes").collect()
    }
    assert got == want and len(want) == 15


def test_projected_rerank_score_quality(spark, sf_dir):
    """Two-stage retrieval must find neighbors whose mean exact cosine
    is ≥ 0.9× the brute-force tier's (set-recall is near-tie-dominated
    on this corpus, so score ratio is the meaningful gate)."""
    from m3d_engine_spark.operators.similarity import (
        brute_force_topk,
        projected_rerank_topk,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") % 25 == 0)
    brute = brute_force_topk(emb, q, "vec_id", "embedding", k=5).collect()
    proj = projected_rerank_topk(
        emb, q, "vec_id", "embedding", dim=64, k=5
    ).collect()
    assert len(proj) == len(brute) > 0
    ratio = (sum(r.cosine for r in proj) / len(proj)) / (
        sum(r.cosine for r in brute) / len(brute)
    )
    assert ratio >= 0.9, ratio


def test_group_top_terms_values(spark):
    docs = spark.createDataFrame(
        [(1, "a", "x x x y y z"), (2, "a", "x y q"), (3, "b", "w w")],
        "doc_id long, lang string, text string",
    )
    from m3d_engine_spark.operators.reporting import group_top_terms

    out = {
        (r.lang, r.term): (r.cnt, r.rk)
        for r in group_top_terms(docs, ["lang"], "text", k=2, min_count=2).collect()
    }
    # lang a: x→4, y→3; z/q below min_count; lang b: w→2
    assert out == {("a", "x"): (4, 1), ("a", "y"): (3, 2), ("b", "w"): (2, 1)}


def test_ccnet_buckets_terciles_and_ties(spark):
    from m3d_engine_spark.operators.curation import ccnet_buckets

    # 9 docs, one lang; the three quality dialects separate cleanly:
    # common tokens score high, rare tokens low.
    rows = (
        [(i, "a a a a", "en") for i in range(3)]
        + [(i, "a b b c", "en") for i in range(3, 6)]
        + [(i, f"z{i} y{i} w{i} v{i}", "en") for i in range(6, 9)]
    )
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    out = {r.doc_id: r.bucket for r in ccnet_buckets(docs, "doc_id", "text", "lang").collect()}
    assert [out[i] for i in range(9)] == ["head"] * 3 + ["middle"] * 3 + ["tail"] * 3
    # value-cutoff tie behavior: identical scores share one bucket
    tied = spark.createDataFrame(
        [(i, "same text here", "en") for i in range(6)],
        "doc_id long, text string, lang string",
    )
    tb = {r.bucket for r in ccnet_buckets(tied, "doc_id", "text", "lang").collect()}
    assert tb == {"head"}


def test_hard_negatives_exclude_same_label(spark, sf_dir):
    from m3d_engine_spark.operators.similarity import hard_negative_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") % 25 == 0)
    out = hard_negative_topk(emb, q, "vec_id", "embedding", "label", k=3)
    labels = {r.vec_id: r.label for r in emb.select("vec_id", "label").collect()}
    rows = out.collect()
    assert len(rows) > 0
    for r in rows:
        assert labels[r.query_id] != labels[r.neighbor_id]


def test_rolling_zscore_nan_and_null_values_are_inert(spark):
    """NaN/NULL values must score NULL/false and stay OUT of every
    frame (a NaN would become 0 under the non-ANSI long cast and
    corrupt the statistics) — and the streaming kernel agrees."""
    rows = [(i, _ts(i), 1, 10.0 + (0.1 if i % 2 else -0.1)) for i in range(12)]
    rows.append((12, _ts(12), 1, float("nan")))
    rows.append((13, _ts(13), 1, None))
    rows.append((14, _ts(14), 1, 10.05))
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, value double"
    )
    out = {
        r.event_id: (r.z, r.is_anomaly)
        for r in rolling_zscore_flags(
            df, "user_id", ["ts", "event_id"], "value"
        ).collect()
    }
    assert out[12] == (None, False) and out[13] == (None, False)
    # the clean event after the bad ones scores against the 12 clean
    # predecessors only — a NaN-as-zero in the frame would blow |z| up
    z, flag = out[14]
    assert z is not None and abs(z) < 3 and not flag


def test_temperature_mixture_rates_and_flattening(spark):
    from m3d_engine_spark.operators.curation import temperature_mixture

    rows = [(i, "big" if i < 400 else "small") for i in range(500)]
    df = spark.createDataFrame(rows, "doc_id long, src string")
    out = temperature_mixture(df, "doc_id", "src", alpha=0.5).collect()
    rates = {r.src: r.rate for r in out}
    # r_small = 1 (rarest keeps all), r_big = sqrt(100/400) = 0.5
    assert rates["small"] == 1.0 and rates["big"] == 0.5
    kept = {"big": 0, "small": 0}
    for r in out:
        kept[r.src] += 1
    assert kept["small"] == 100  # rate 1 keeps everything
    # md5-Bernoulli at 0.5 over 400 docs: near half, deterministic
    assert 170 <= kept["big"] <= 230
    again = temperature_mixture(df, "doc_id", "src", alpha=0.5).collect()
    assert {r.doc_id for r in again} == {r.doc_id for r in out}


def test_sliding_rollup_windows_cover_each_event_four_times(spark):
    from m3d_engine_spark.streaming.pipeline import sliding_rollup

    df = spark.createDataFrame(
        [(1, _ts(0)), (2, _ts(0))], "user_id long, ts timestamp"
    )
    out = sliding_rollup(df).collect()
    # one event time → exactly window/slide = 4 covering windows
    assert len(out) == 4
    assert all(r.n_events == 2 and r.n_users == 2 for r in out)
    spans = {(r.window_end - r.window_start) for r in out}
    assert spans == {datetime.timedelta(hours=1)}


def test_sliding_rollup_streaming_builds(spark, tmp_path):
    from m3d_engine_spark.streaming.pipeline import sliding_rollup

    df = spark.createDataFrame(
        [(u, _ts(u * 7)) for u in range(10)], "user_id long, ts timestamp"
    )
    src = tmp_path / "slide_src"
    df.write.parquet(str(src))
    stream = spark.readStream.schema("user_id long, ts timestamp").parquet(str(src))
    q = (
        sliding_rollup(stream, watermark="2 hours")
        .writeStream.format("memory")
        .queryName("slide_out")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "slide_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(180)
    rows = spark.sql("SELECT * FROM slide_out").collect()
    assert len(rows) > 0 and all(r.n_events >= 1 for r in rows)


def test_approx_percentile_swap_in_accuracy(spark, sf_dir):
    """Several operators document approx_percentile as the extreme-
    scale drop-in for exact percentile (same topology, sketch
    buffers). Pin the swap is actually sound on real data: the
    sketch at accuracy 10000 lands within 1% relative error of the
    exact per-group cuts."""
    part = spark.read.parquet(f"{sf_dir}/part.parquet")
    rows = part.groupBy("p_brand").agg(
        F.expr("percentile(p_retailprice, 0.5)").alias("exact"),
        F.expr("approx_percentile(p_retailprice, 0.5, 10000)").alias("approx"),
    ).collect()
    assert len(rows) > 10
    for r in rows:
        assert abs(r.approx - r.exact) <= 0.01 * abs(r.exact) + 1e-9, r


def test_remove_repeated_spans_semantics(spark):
    from m3d_engine_spark.operators.dedup import remove_repeated_spans

    shared = "q w e r t y u i o p"  # 10 tokens → 3 repeated 8-windows
    rows = [
        (1, shared + " alpha beta gamma"),
        (2, "x1 x2 " + shared + " delta"),
        (3, "a b c d e"),          # < 8 tokens: untouched
        (4, "m b c d e f g h i"),  # unique 9 tokens: untouched
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in remove_repeated_spans(docs, "doc_id", "text").collect()}
    # first occurrence (doc 1) keeps the region, doc 2 loses all 10 tokens
    assert out[1].clean_text == shared + " alpha beta gamma"
    assert out[1].n_removed == 0
    assert out[2].clean_text == "x1 x2 delta"
    assert out[2].n_removed == 10
    assert out[3].n_removed == 0 and out[3].clean_text == "a b c d e"
    assert out[4].n_removed == 0
    # exact whole-doc duplicate empties the copy
    dup = spark.createDataFrame(
        [(1, "s1 s2 s3 s4 s5 s6 s7 s8"), (2, "s1 s2 s3 s4 s5 s6 s7 s8")],
        "doc_id long, text string",
    )
    d = {r.doc_id: r for r in remove_repeated_spans(dup, "doc_id", "text").collect()}
    assert d[1].n_removed == 0 and d[2].clean_text == "" and d[2].n_removed == 8


def test_awkward_column_names_survive_sql_string_operators(spark):
    """Operators that interpolate a user column name into a SQL
    expression string (percentile, higher-order aggregate) must
    backtick-quote it: a name with a space or hyphen would otherwise
    fail to parse — or silently parse as arithmetic (`a-b`)."""
    from m3d_engine_spark.operators.curation import percentile_filter

    rows = [("a", v) for v in [1, 2, 3, 4, 5]]
    df = (
        spark.createDataFrame(rows, "g string, x int")
        .withColumnRenamed("x", "order total")
        .withColumn("a", F.lit(100))
        .withColumn("b", F.lit(1))
        .withColumnRenamed("a", "a-b")  # keep plain a, b absent
        .drop("b")
    )
    out = {
        r["order total"]: r.r
        for r in robust_scale(df, ["g"], "order total").collect()
    }
    assert out[5] == 1.0 and out[3] == 0.0

    kept = percentile_filter(df, ["g"], "order total", p=0.5)
    assert sorted(r["order total"] for r in kept.collect()) == [3, 4, 5]
