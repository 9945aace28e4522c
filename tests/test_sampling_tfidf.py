"""Sampling + TF-IDF operators (the oracle entries pin engine parity;
these pin the operator-level semantics and the scale-relevant plan
shapes)."""

from __future__ import annotations

from pyspark.sql import Row
from pyspark.sql import functions as F

from m3d_engine_spark.operators.sampling import (
    hash_split,
    split_boundaries,
    stratified_sample,
)
from m3d_engine_spark.operators.tfidf import tfidf_top_terms


def test_stratified_sample_sizes_and_determinism(spark):
    df = spark.createDataFrame(
        [Row(g="a" if i % 3 else "b", id=i) for i in range(100)]
    )
    out1 = stratified_sample(df, ["g"], 5, "id")
    sizes = {r["g"]: r["n"] for r in
             out1.groupBy("g").agg(F.count("*").alias("n")).collect()}
    assert sizes == {"a": 5, "b": 5}
    # Re-running yields the identical sample — no RNG state anywhere.
    assert sorted(out1.collect()) == sorted(
        stratified_sample(df, ["g"], 5, "id").collect()
    )
    # Small strata: keep everything, ranks still 1..size.
    tiny = spark.createDataFrame([Row(g="x", id=1), Row(g="x", id=2)])
    assert stratified_sample(tiny, ["g"], 5, "id").count() == 2


def test_stratified_sample_uses_window_group_limit(spark):
    df = spark.createDataFrame([Row(g=i % 4, id=i) for i in range(100)])
    plan = stratified_sample(df, ["g"], 3, "id")._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        stratified_sample(df, ["g"], 3, "id")._jdf.queryExecution(), "simple"
    )
    # The pre-exchange top-n pruning that makes this viable at scale.
    assert "WindowGroupLimit" in plan


def test_split_boundaries_exact_hex():
    assert split_boundaries([0.8, 0.1, 0.1]) == ["cccccccc", "e6666666"]
    assert split_boundaries([1.0]) == []
    assert split_boundaries([1, 1]) == ["80000000"]


def test_hash_split_partition_and_determinism(spark):
    df = spark.createDataFrame([Row(id=i) for i in range(2000)])
    out = hash_split(df, "id", [0.8, 0.1, 0.1])
    counts = {r["split"]: r["n"] for r in
              out.groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert set(counts) == {0, 1, 2}
    assert sum(counts.values()) == 2000
    # Rough proportions (md5 is uniform; 2000 draws, generous bands).
    assert 1450 <= counts[0] <= 1750, counts
    # Assignment is a pure function of the id.
    again = {r["id"]: r["split"] for r in
             hash_split(df, "id", [0.8, 0.1, 0.1]).collect()}
    first = {r["id"]: r["split"] for r in out.collect()}
    assert first == again


def test_tfidf_prefers_rare_terms(spark):
    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text="common common zebra"),
            Row(doc_id=2, text="common aardvark"),
            Row(doc_id=3, text="common common common"),
        ]
    )
    out = {
        (r["doc_id"], r["rk"]): r["term"]
        for r in tfidf_top_terms(docs, "doc_id", "text", k=2).collect()
    }
    # 'common' appears in every doc -> idf = ln(1) = 0; the unique
    # terms must outrank it.
    assert out[(1, 1)] == "zebra"
    assert out[(2, 1)] == "aardvark"
    # Doc 3 has only zero-idf terms; 'common' still ranks (score 0).
    assert out[(3, 1)] == "common"


def test_pmi_prefers_exclusive_pairs(spark):
    from m3d_engine_spark.operators.collocations import pmi_bigrams

    # "san francisco" always co-occur exclusively; "the dog"/"the cat"
    # share "the", diluting PMI.
    docs = spark.createDataFrame(
        [Row(text="san francisco is great")] * 5
        + [Row(text="the dog ran")] * 5
        + [Row(text="the cat sat")] * 5
    )
    out = pmi_bigrams(docs, "text", min_count=5, top=10).collect()
    assert out, "no bigrams survived min_count"
    top = (out[0]["w1"], out[0]["w2"])
    pmis = {(r["w1"], r["w2"]): r["pmi"] for r in out}
    assert pmis[("san", "francisco")] > pmis[("the", "dog")]
    assert top[0] != "the"


def test_group_zscore_exact_and_null_rules(spark):
    from m3d_engine_spark.operators.normalize import group_zscore

    df = spark.createDataFrame(
        [Row(g="a", v=1), Row(g="a", v=2), Row(g="a", v=3),
         Row(g="b", v=7),                      # singleton -> NULL
         Row(g="c", v=4), Row(g="c", v=4)]     # zero variance -> NULL
    )
    out = {(r["g"], r["v"]): r["z"] for r in
           group_zscore(df, ["g"], "v").collect()}
    assert out[("a", 1)] == -1.0 and out[("a", 2)] == 0.0 and out[("a", 3)] == 1.0
    assert out[("b", 7)] is None
    assert out[("c", 4)] is None


def test_contamination_and_repetition_semantics(spark):
    from m3d_engine_spark.operators.decontamination import (
        contamination_check,
        repetition_stats,
    )

    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text="the quick brown fox jumps"),
            Row(doc_id=2, text="a completely different sentence here"),
            Row(doc_id=3, text="loop loop loop loop loop"),
        ]
    )
    probes = spark.createDataFrame([Row(text="quick brown fox runs far")])
    hits = {r["doc_id"]: r["n_hits"] for r in
            contamination_check(docs, probes, "doc_id", "text").collect()}
    # Doc 1 shares exactly the shingle "quick brown fox"; others share none.
    assert hits == {1: 1}

    reps = {r["doc_id"]: (r["n_shingles"], r["n_distinct"], r["dup_ratio"])
            for r in repetition_stats(docs, "doc_id", "text").collect()}
    assert reps[1] == (3, 3, 0.0)
    # 'loop'*5 -> 3 identical shingles -> dup_ratio = 1 - 1/3
    assert reps[3] == (3, 1, 0.6667)


def test_pack_sequences_bins_respect_budget_relaxation(spark):
    from m3d_engine_spark.functions.text import token_count
    from m3d_engine_spark.operators.sampling import pack_sequences

    docs = spark.createDataFrame(
        [Row(g="x", id=i, text=" ".join(["w"] * 10)) for i in range(30)]
    )
    out = pack_sequences(docs, ["g"], "id", token_count(F.col("text")),
                         budget=25).collect()
    by_bin = {}
    for r in out:
        by_bin.setdefault(r["bin"], []).append(r["n_tokens"])
    # Relaxed-packing invariants: every bin holds < budget tokens
    # BEFORE its last doc (so ≤ budget + one straddler total), bins are
    # consecutive from 0, and nothing is lost.
    assert set(by_bin) == set(range(len(by_bin)))
    assert all(sum(v) <= 25 + 10 for v in by_bin.values())
    assert all(sum(v[:-1]) < 25 for v in by_bin.values())
    assert sum(len(v) for v in by_bin.values()) == 30
    again = pack_sequences(docs, ["g"], "id", token_count(F.col("text")),
                           budget=25).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))


def test_weighted_sample_law_and_exclusions(spark):
    """Pins the uniform-race law: over many independent {w, 3w} pairs,
    the heavy row takes top-1 with p = P(u_b/3 < u_a) = 5/6 (NOT the
    exponential-race 3/4 — the documented large-fraction bias of the
    division-form keys), measured here against md5's empirical
    uniforms. Also: zero/negative/null weights never selected;
    reruns bit-identical."""
    from m3d_engine_spark.operators.sampling import weighted_sample

    rows = []
    for g in range(1200):
        rows.append((g * 2, g, 1.0))       # light
        rows.append((g * 2 + 1, g, 3.0))   # heavy
    df = spark.createDataFrame(rows, "id long, grp int, w double")
    top1 = weighted_sample(df, ["grp"], 1, "id", "w")
    heavy_wins = top1.filter(F.col("id") % 2 == 1).count()
    frac = heavy_wins / 1200
    assert abs(frac - 5 / 6) < 0.04, frac  # ±3.5σ band around 5/6
    # weight exclusions: 0, negative, and null rows can never appear
    bad = spark.createDataFrame(
        [(1, 0, 0.0), (2, 0, -5.0), (3, 0, None), (4, 0, 2.0)],
        "id long, grp int, w double",
    )
    kept = weighted_sample(bad, ["grp"], 10, "id", "w").collect()
    assert [r.id for r in kept] == [4]
    # deterministic rerun
    a = sorted(map(tuple, top1.collect()))
    b = sorted(map(tuple, weighted_sample(df, ["grp"], 1, "id", "w").collect()))
    assert a == b


def test_weighted_sample_uses_window_group_limit(spark):
    """Same pre-exchange top-n shape as stratified_sample: the rank
    filter must compile to WindowGroupLimit so the shuffle carries at
    most n rows per stratum per task."""
    from m3d_engine_spark.operators.sampling import weighted_sample

    df = spark.createDataFrame(
        [(i, i % 3, float(i + 1)) for i in range(100)],
        "id long, grp int, w double",
    )
    plan = weighted_sample(df, ["grp"], 5, "id", "w")._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        weighted_sample(df, ["grp"], 5, "id", "w")._jdf.queryExecution(), "simple"
    )
    assert "WindowGroupLimit" in plan, plan


def test_budget_select_overshoot_bounded_by_one_doc(spark):
    """Every selected group's total stays under budget + its one
    straddling document; removing each group's LAST selected row
    always lands under budget (i.e. the cut is tight, not early); and
    selection order is the requested one (best-first)."""
    from m3d_engine_spark.operators.selection import budget_select

    rows = [(g * 100 + i, g, (i * 37) % 90 + 10) for g in range(4)
            for i in range(30)]
    df = spark.createDataFrame(rows, "id long, grp int, nt int")
    out = budget_select(
        df, ["grp"], "id",
        order_col=F.col("nt"),
        token_count_col=F.col("nt"),
        budget=300,
    ).collect()
    by_grp: dict[int, list] = {}
    for r in out:
        by_grp.setdefault(r.grp, []).append(r)
    assert set(by_grp) == {0, 1, 2, 3}
    for g, sel in by_grp.items():
        total = sum(r.n_tokens for r in sel)
        last = max(sel, key=lambda r: r.cum_tokens)
        # under budget before the straddling doc; at/over after it
        # (unless the whole group fits)
        assert total - last.n_tokens < 300, (g, total)
        assert total >= 300 or len(sel) == 30, (g, total)
        # best-first: the smallest selected nt is >= the largest
        # unselected nt (strictly ordered inputs per group, no ties)
        chosen = {r.id for r in sel}
        unsel = [nt for (i, gg, nt) in rows if gg == g and i not in chosen]
        if unsel:
            assert min(r.n_tokens for r in sel) >= max(unsel), g


def test_rank_fuse_semantics_and_single_exchange(spark):
    """Percent ranks over total orders: known 3-row group blends to
    exact thirds; single-member group ranks 0.0; and BOTH signal
    windows share ONE hash exchange on the group key (adding a signal
    adds a sort, never a shuffle)."""
    from m3d_engine_spark.operators.normalize import rank_fuse

    df = spark.createDataFrame(
        [(1, "a", 10, 0.9), (2, "a", 20, 0.5), (3, "a", 30, 0.1),
         (4, "b", 5, 0.5)],
        "id long, grp string, s1 int, s2 double",
    )
    out = rank_fuse(
        df, ["grp"], "id",
        signals={"s1": F.col("s1"), "s2": F.col("s2")},
    )
    got = {r.id: r.blended for r in out.collect()}
    # id=1: s1 rank 0.0, s2 rank 1.0 -> 0.5; id=2: 0.5,0.5 -> 0.5;
    # id=3: 1.0,0.0 -> 0.5; id=4: singleton -> 0.0
    assert got == {1: 0.5, 2: 0.5, 3: 0.5, 4: 0.0}, got
    plan = out._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        out._jdf.queryExecution(), "simple"
    )
    # AQE prints Final + Initial sections — count the executed one
    final = plan.split("Initial Plan")[0]
    assert final.count("Exchange hashpartitioning") == 1, plan


def test_association_rules_known_baskets(spark):
    """Hand-checkable census: {1,2} co-occur in 3 of 4 baskets
    (lift > 1 — positively associated), {1,3} in only 1 (below
    min_count, dropped); confidence is directional."""
    from m3d_engine_spark.operators.collocations import association_rules

    baskets = [
        (1, 1), (1, 2), (1, 3),
        (2, 1), (2, 2),
        (3, 1), (3, 2),
        (4, 4), (4, 1), (4, 1),  # duplicate membership de-duplicates
    ]
    df = spark.createDataFrame(baskets, "bk long, it long")
    out = {(r.a, r.b): r for r in association_rules(
        df, "bk", "it", min_count=3, top=10
    ).collect()}
    assert set(out) == {(1, 2)}
    r = out[(1, 2)]
    # c_12=3, c_1=4, c_2=3, N=4
    assert r.n_pair == 3
    assert r.support == 0.75
    assert r.conf_ab == 0.75      # 3/4
    assert r.conf_ba == 1.0       # 3/3
    assert r.lift == 1.0          # 3*4/(4*3)


def test_association_rules_basket_cap_noop_and_hot_basket(spark):
    """The basket-size dial: with cap >= max basket size the output is
    identical to the uncapped run (pinned); with a hot basket over the
    cap, pair generation is bounded at k·(k−1)/2 while item counts and
    N stay exact over full membership."""
    from m3d_engine_spark.operators.collocations import association_rules

    baskets = [
        (1, 1), (1, 2), (1, 3),
        (2, 1), (2, 2),
        (3, 1), (3, 2),
        (4, 4), (4, 1),
    ]
    df = spark.createDataFrame(baskets, "bk long, it long")
    key = lambda r: (r.a, r.b, r.n_pair, r.support, r.conf_ab, r.conf_ba, r.lift)
    uncapped = {key(r) for r in association_rules(
        df, "bk", "it", min_count=3, top=10
    ).collect()}
    capped = {key(r) for r in association_rules(
        df, "bk", "it", min_count=3, top=10, max_basket_size=3
    ).collect()}
    assert capped == uncapped and uncapped

    # hot basket: basket 99 carries 100 items; cap 5 bounds its pair
    # fan-out to C(5,2)=10 rows instead of C(100,2)=4950.
    hot = df.union(spark.createDataFrame(
        [(99, 1000 + i) for i in range(100)], "bk long, it long"
    ))
    out = association_rules(hot, "bk", "it", min_count=1, top=10_000,
                            max_basket_size=5)
    rows = out.collect()
    hot_pairs = [r for r in rows if r.a >= 1000]
    assert len(hot_pairs) == 10  # C(5,2), not C(100,2)
    # exactness preserved for under-cap baskets: (1,2) metrics over
    # FULL membership (N=5 baskets now)
    r12 = next(r for r in rows if (r.a, r.b) == (1, 2))
    assert r12.n_pair == 3 and r12.conf_ba == 1.0 and r12.support == 0.6


def test_association_rules_cap_window_group_limit_below_join(spark):
    """Plan pin: the cap's per-basket top-k executes as WindowGroupLimit
    BELOW the basket self-join — each task forwards at most k rows per
    basket before any join input materializes."""
    from m3d_engine_spark.operators.collocations import association_rules

    df = spark.createDataFrame([(1, 1), (1, 2)], "bk long, it long")
    out = association_rules(df, "bk", "it", min_count=1, top=10,
                            max_basket_size=5)
    plan = out._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        out._jdf.queryExecution(), "formatted"
    )
    assert "WindowGroupLimit" in plan, plan
    join_pos = plan.find("Join")
    wgl_pos = plan.find("WindowGroupLimit")
    # formatted plans print top-down: the join node appears before
    # (above) the WindowGroupLimit feeding it
    assert 0 <= join_pos < wgl_pos, plan
