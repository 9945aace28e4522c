"""Unit tests for paragraph dedup, document chunking, and semantic
dedup — the behaviors the sf0.01 oracle sweep can't isolate (edge
cases: all-paragraphs-lost docs, short last windows, empty docs,
lowest-id-wins flagging)."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from m3d_engine_spark.operators.curation import dedup_paragraphs
from m3d_engine_spark.operators.dedup import semantic_dedup
from m3d_engine_spark.operators.sampling import chunk_documents


def test_dedup_paragraphs_first_occurrence_wins(spark):
    docs = spark.createDataFrame(
        [
            (1, "alpha\nshared one\nbeta"),
            (2, "shared one\ngamma\nshared two"),
            (3, "shared two\nshared one"),
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in dedup_paragraphs(docs, "doc_id", "text").collect()
    }
    # doc 1 is first everywhere it overlaps: fully intact.
    assert out[1]["text"] == "alpha\nshared one\nbeta"
    assert out[1]["n_kept"] == 3 and out[1]["n_total"] == 3
    # doc 2 loses "shared one" (doc 1 owns it) but keeps its own firsts.
    assert out[2]["text"] == "gamma\nshared two"
    assert out[2]["n_kept"] == 2 and out[2]["n_total"] == 3
    # doc 3 loses everything → present with empty text, not dropped.
    assert out[3]["text"] == "" and out[3]["n_kept"] == 0
    assert out[3]["n_total"] == 2


def test_dedup_paragraphs_intra_doc_repeat(spark):
    """A paragraph repeated INSIDE one document keeps only its first
    position too (the election key is the paragraph, corpus-wide)."""
    docs = spark.createDataFrame(
        [(7, "x\ny\nx\nz")], "doc_id long, text string"
    )
    row = dedup_paragraphs(docs, "doc_id", "text").collect()[0]
    assert row["text"] == "x\ny\nz"
    assert row["n_kept"] == 3 and row["n_total"] == 4


def test_chunk_documents_windows_and_overlap(spark):
    docs = spark.createDataFrame(
        [(1, "t0 t1 t2 t3 t4 t5 t6"), (2, ""), (3, "solo")],
        "doc_id long, text string",
    )
    rows = chunk_documents(
        docs, "doc_id", "text", chunk_tokens=4, stride=3
    ).collect()
    by_key = {(r["doc_id"], r["chunk_id"]): r for r in rows}
    # doc 1: candidate starts 0, 3, 6 — but window 1 (tokens 3-6)
    # already reaches the end, so the start-6 window ("t6") is a pure
    # SUFFIX of it and emitting it would duplicate training data.
    assert by_key[(1, 0)]["chunk"] == "t0 t1 t2 t3"
    assert by_key[(1, 1)]["chunk"] == "t3 t4 t5 t6"
    assert (1, 2) not in by_key
    # empty doc → zero chunks; one-token doc → one chunk.
    assert not any(k[0] == 2 for k in by_key)
    assert by_key[(3, 0)]["chunk"] == "solo"
    assert len(rows) == 3
    # non-overlapping stride keeps its short (non-suffix) tail window
    tail = chunk_documents(
        docs, "doc_id", "text", chunk_tokens=4, stride=4
    ).collect()
    t1 = {r["chunk_id"]: r["chunk"] for r in tail if r["doc_id"] == 1}
    assert t1 == {0: "t0 t1 t2 t3", 1: "t4 t5 t6"}


def test_chunk_documents_tokenizes_once(spark):
    """The start filter and the window slices read one bound token
    array; referencing tokens(text) inside their lambdas re-split the
    whole document once per start."""
    docs = spark.createDataFrame([(1, "a b c d e")], "doc_id long, text string")
    plan = (
        chunk_documents(docs, "doc_id", "text", chunk_tokens=2, stride=1)
        ._jdf.queryExecution().optimizedPlan().toString()
    )
    # split(trim(text)) is the tokenizer; the n_tokens column's
    # split(chunk, ' ') is a separate, per-chunk count.
    assert plan.count("split(trim(") == 1, plan


def test_chunk_documents_rejects_bad_sizes(spark):
    docs = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    for kwargs in ({"chunk_tokens": 0}, {"chunk_tokens": 4, "stride": -1}):
        try:
            chunk_documents(docs, "doc_id", "text", **kwargs)
            raise AssertionError("expected ValueError")
        except ValueError:
            pass


def test_semantic_dedup_lowest_id_wins(spark):
    """Two tight groups on orthogonal axes; centroids at ids 0 and 2
    (stride 2 picks 0 and 2; 4 is also sampled but duplicates axis-y).
    Within each cluster the lowest id survives, near-identical
    higher-ids are flagged."""
    rows = [
        (0, [1.0, 0.0, 0.0]),   # centroid, x-axis
        (1, [0.999, 0.01, 0.0]),  # near-dup of 0
        (2, [0.0, 1.0, 0.0]),   # centroid, y-axis
        (3, [0.01, 0.999, 0.0]),  # near-dup of 2
        (5, [0.0, -1.0, 0.2]),  # argmax lands on cluster 0 (cos 0 > -0.98)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {
        r["vec_id"]: r
        for r in semantic_dedup(
            df, "vec_id", "embedding", centroid_stride=2, threshold=0.95
        ).collect()
    }
    assert len(out) == 5
    assert not out[0]["is_dup"] and not out[2]["is_dup"]
    assert out[1]["is_dup"] and out[1]["max_sim"] >= 0.99
    assert out[3]["is_dup"]
    assert not out[5]["is_dup"]  # ~0 cosine to its cluster-mates
    # clusters are centroid ids
    assert out[1]["cluster"] == 0 and out[3]["cluster"] == 2
    assert out[5]["cluster"] == 0


def test_incremental_dedup_exact_and_fuzzy_tiers(spark):
    from m3d_engine_spark.operators.incremental import incremental_dedup

    existing = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog today"),
            (2, "entirely different reference content lives here now"),
        ],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [
            # exact copy of existing 1 → dropped by the fingerprint tier
            (10, "the quick brown fox jumps over the lazy dog today"),
            # near-dup of existing 1 (one token changed) → fuzzy tier
            (11, "the quick brown fox jumps over the lazy cat today"),
            # genuinely new → survives
            (12, "completely unrelated fresh material with novel words"),
        ],
        "doc_id long, text string",
    )
    out = incremental_dedup(
        new, existing, "doc_id", "text", threshold=0.5
    )
    assert [r["doc_id"] for r in out.collect()] == [12]


def test_bigram_logprob_hand_computed(spark):
    from m3d_engine_spark.operators.curation import bigram_logprob

    docs = spark.createDataFrame(
        [(1, "a b a b"), (2, "a b"), (3, "x")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in bigram_logprob(docs, "doc_id", "text").collect()}
    # c(a,b)=3, c(b,a)=1, c1(a)=3, c1(b)=1, V=3 (a,b,x):
    # lp(a,b)=ln(4/6), lp(b,a)=ln(2/4)
    import math

    lab = math.log(4 / 6)
    lba = math.log(2 / 4)
    assert out[1]["n_bigrams"] == 3
    assert abs(out[1]["avg_logprob"] - round((2 * lab + lba) / 3, 4)) < 1e-9
    assert out[2]["n_bigrams"] == 1
    assert abs(out[2]["avg_logprob"] - round(lab, 4)) < 1e-9
    assert 3 not in out  # <2 tokens → no transitions → no row


def test_group_distinct_report_sketch_vs_exact(spark, sf_dir):
    """The HLL++ tier must land within ~2·rsd of the exact twin and
    share its schema."""
    from m3d_engine_spark.operators.reporting import group_distinct_report

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    exact = {
        r["event_type"]: r
        for r in group_distinct_report(
            ev, ["event_type"], "user_id", exact=True
        ).collect()
    }
    approx = {
        r["event_type"]: r
        for r in group_distinct_report(
            ev, ["event_type"], "user_id", rsd=0.02
        ).collect()
    }
    assert set(exact) == set(approx) and len(exact) > 0
    for k, e in exact.items():
        a = approx[k]
        assert a["n_rows"] == e["n_rows"]
        assert abs(a["n_distinct"] - e["n_distinct"]) <= max(
            2, 0.04 * e["n_distinct"]
        ), (k, a["n_distinct"], e["n_distinct"])


@pytest.mark.slow
def test_train_kmeans_separates_obvious_clusters(spark):
    """Two tight orthogonal groups, k=2, 2 rounds: centroids converge
    to the group means and memberships split 3/3 — and the result is
    identical across repeated runs (determinism contract)."""
    from m3d_engine_spark.operators.kmeans import train_kmeans

    rows = [
        (i, [1.0 + 0.01 * i, 0.0]) for i in range(3)
    ] + [
        (10 + i, [0.0, 1.0 + 0.01 * i]) for i in range(3)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    a = train_kmeans(df, "vec_id", "embedding", k=2, iterations=2).collect()
    b = train_kmeans(df, "vec_id", "embedding", k=2, iterations=2).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    assert sorted(r["n_members"] for r in a) == [3, 3]
    for r in a:
        c = r["centroid"]
        # each centroid is axis-dominant: one coord ~1.01, other ~0
        assert (c[0] > 0.9 and c[1] < 0.1) or (c[1] > 0.9 and c[0] < 0.1), c


def test_semantic_dedup_with_trained_centroids(spark):
    """The kmeans relation swaps into semantic_dedup unchanged: same
    near-dups flagged as with the sampled quantizer on a fixture where
    both quantizers separate the groups."""
    from m3d_engine_spark.operators.kmeans import train_kmeans

    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.999, 0.01, 0.0]),
        (2, [0.0, 1.0, 0.0]),
        (3, [0.01, 0.999, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cents = train_kmeans(df, "vec_id", "embedding", k=2, iterations=2)
    out = {
        r["vec_id"]: r
        for r in semantic_dedup(
            df, "vec_id", "embedding", threshold=0.95, centroids=cents
        ).collect()
    }
    flagged = {k for k, r in out.items() if r["is_dup"]}
    assert flagged == {max(0, 1), max(2, 3)} == {1, 3}


def test_assemble_sequences_order_survives_partitioning(spark):
    """The struct-sort-inside-the-aggregate design must produce the
    SAME transcript under any input partitioning (the property a
    plain collect_list after orderBy does NOT have), restore the true
    event order, and drop nothing."""
    from pyspark.sql import functions as F

    from m3d_engine_spark.operators.curation import assemble_sequences

    rows = [
        (u, t, u * 100 + t, f"e{t}") for u in range(5) for t in range(7)
    ]
    df = spark.createDataFrame(rows, "u int, t int, eid long, txt string")
    want = {
        r.u: (r.n_turns, r.transcript)
        for r in assemble_sequences(
            df, ["u"], ["t", "eid"], "txt"
        ).collect()
    }
    assert want[0] == (7, "e0 > e1 > e2 > e3 > e4 > e5 > e6")
    for parts in (1, 7):
        got = {
            r.u: (r.n_turns, r.transcript)
            for r in assemble_sequences(
                df.repartition(parts, "eid"), ["u"], ["t", "eid"], "txt"
            ).collect()
        }
        assert got == want, parts


def test_null_group_rows_survive_stat_joins(spark):
    """groupBy treats NULL as a real group, but a plain equi-join back
    drops NULL-keyed rows — silent corpus loss. percentile_filter and
    temperature_mixture must keep them (null-safe join)."""
    from m3d_engine_spark.operators.curation import (
        percentile_filter,
        temperature_mixture,
    )

    rows = [(1, "a", 10), (2, "a", 20), (3, None, 5), (4, None, 15)]
    df = spark.createDataFrame(rows, "id long, src string, score long")
    kept = percentile_filter(df, ["src"], "score", p=0.5)
    ids = {r.id for r in kept.collect()}
    assert 4 in ids and 2 in ids  # NULL group's upper half survives

    mixed = temperature_mixture(
        df.withColumnRenamed("score", "n_chars"), "src", "id", alpha=1.0
    )
    # alpha=1 -> rate 1 for every group: ALL rows survive, incl. NULLs
    assert mixed.count() == 4


def test_hash_mixture_negative_rate_keeps_nothing(spark):
    """A negative rate must keep zero rows — unclamped, the
    two's-complement hex of floor(rate*2^32) truncates to the
    keep-everything bound."""
    from m3d_engine_spark.operators.curation import hash_mixture

    df = spark.range(100).withColumnRenamed("id", "doc_id")
    assert hash_mixture(df, "doc_id", F.lit(-0.5)).count() == 0
    assert hash_mixture(df, "doc_id", F.lit(1.5)).count() == 100


def test_dedup_paragraphs_metachar_separator(spark):
    """The separator must split LITERALLY: '|' as a regex matches the
    empty string and shreds documents character-wise while the rebuild
    inserts literal pipes."""
    from m3d_engine_spark.operators.curation import dedup_paragraphs

    df = spark.createDataFrame(
        [(1, "keep me|dup para"), (2, "dup para|other")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in
           dedup_paragraphs(df, "doc_id", "text", sep="|").collect()}
    assert out[1].text == "keep me|dup para" and out[1].n_total == 2
    assert out[2].text == "other"


def test_ccnet_buckets_keeps_empty_documents(spark):
    """A zero-token document emits no LM row; it must still appear in
    the output, in the tail bucket."""
    from m3d_engine_spark.operators.curation import ccnet_buckets

    rows = [(i, "en", "some normal words here") for i in range(9)]
    rows.append((9, "en", ""))
    df = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    out = {r.doc_id: r.bucket for r in
           ccnet_buckets(df, "doc_id", "text", "lang").collect()}
    assert len(out) == 10 and out[9] == "tail"


def test_dsir_empty_target_raises(spark):
    """An empty target slice must fail loudly, not hand gumbel_resample
    all-NULL weights it resolves by id order."""
    import pytest as _pt

    from m3d_engine_spark.operators.selection import dsir_log_weights

    df = spark.createDataFrame(
        [(1, "en", "hello world"), (2, "de", "hallo welt")],
        "doc_id long, lang string, text string",
    )
    with _pt.raises(Exception, match="no tokens"):
        dsir_log_weights(
            df, F.col("lang") == "xx", "doc_id", "text"
        ).collect()


def test_budget_select_reuses_existing_n_tokens(spark):
    """Feeding a relation that already carries n_tokens back in (the
    documented precomputed-column usage) must not raise
    AMBIGUOUS_REFERENCE."""
    from m3d_engine_spark.operators.selection import budget_select

    df = spark.createDataFrame(
        [(1, "a", 5, 10), (2, "a", 3, 8), (3, "a", 9, 4)],
        "id long, g string, n_tokens long, score long",
    )
    out = budget_select(
        df, ["g"], "id", F.col("score"), F.col("n_tokens"), budget=6
    )
    got = {r.id: r.cum_tokens for r in out.collect()}
    # score desc: id 1 (cum 5), id 2 straddles (preceding 5 < 6), id 3
    # cut (preceding 8 >= 6)
    assert got == {1: 5, 2: 8}
