"""Containment pairs and snapshot diff semantics."""

from __future__ import annotations

from pyspark.sql import functions as F

from m3d_engine_spark.operators.dedup import containment_pairs
from m3d_engine_spark.operators.snapshot_diff import snapshot_diff


def test_containment_catches_embedded_quote(spark):
    """A short doc verbatim inside a long one: containment ≈ 1 for the
    short side even though Jaccard is tiny — the asymmetric signal."""
    quote = "alpha beta gamma delta epsilon zeta"
    filler = " ".join(f"w{i}" for i in range(200))
    docs = spark.createDataFrame(
        [
            (1, "s", quote),
            (2, "s", filler + " " + quote + " " + filler.replace("w", "v")),
            (3, "s", "totally unrelated words only here"),
        ],
        "doc_id long, source string, text string",
    )
    out = {(r.id_a, r.id_b): r for r in
           containment_pairs(docs, "doc_id", "text", ["source"],
                             threshold=0.5).collect()}
    assert (1, 2) in out
    r = out[(1, 2)]
    assert r.cont_a == 1.0  # all of doc 1's shingles are inside doc 2
    assert r.cont_b < 0.05  # but doc 2 is NOT contained in doc 1
    # Jaccard for the same pair is far below any dedup threshold
    assert r.inter / (r.na + r.nb - r.inter) < 0.05
    assert not any(3 in k for k in out)


def test_containment_blocking_respected(spark):
    docs = spark.createDataFrame(
        [(1, "a", "x y z"), (2, "b", "x y z")],
        "doc_id long, source string, text string",
    )
    assert (
        containment_pairs(docs, "doc_id", "text", ["source"], threshold=0.1)
        .count() == 0
    )


def test_snapshot_diff_classification(spark):
    old = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30), (4, None, 40)],
        "k long, v string, p int",
    )
    new = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 99), (4, " null ", 40), (5, "e", 50)],
        "k long, v string, p int",
    )
    rows = {r.k: r.status for r in
            snapshot_diff(old, new, ["k"], ["v", "p"]).collect()}
    # 1 unchanged (excluded), 2 changed, 3 removed, 5 added,
    # 4: NULL vs the literal string ' null ' must NOT alias -> changed
    assert rows == {2: "changed", 3: "removed", 5: "added", 4: "changed"}
    with_unchanged = snapshot_diff(
        old, new, ["k"], ["v", "p"], include_unchanged=True
    )
    assert with_unchanged.filter(F.col("status") == "unchanged").count() == 1


def test_snapshot_diff_column_shift_not_aliased(spark):
    """('ab', 'c') vs ('a', 'bc') must differ: the fingerprint uses a
    separator, not raw concatenation."""
    old = spark.createDataFrame([(1, "ab", "c")], "k long, x string, y string")
    new = spark.createDataFrame([(1, "a", "bc")], "k long, x string, y string")
    out = snapshot_diff(old, new, ["k"], ["x", "y"]).collect()
    assert len(out) == 1 and out[0].status == "changed"


def test_containment_df_cutoff_equals_uncut_below_cutoff(spark):
    """With no shingle above the cutoff, the df-cutoff path must return
    exactly the uncut output (na/nb are full distinct sizes either way;
    only candidate recall could differ — and below the cutoff it
    cannot)."""
    from m3d_engine_spark.sources.testdata import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    key = lambda r: (r.id_a, r.id_b, r.inter, r.na, r.nb, r.cont_a, r.cont_b)
    uncut = {
        key(r)
        for r in containment_pairs(
            docs, "doc_id", "text", ["source"], 3, 0.5
        ).collect()
    }
    cut = {
        key(r)
        for r in containment_pairs(
            docs, "doc_id", "text", ["source"], 3, 0.5, max_shingle_df=64
        ).collect()
    }
    assert cut == uncut and uncut


def test_containment_df_cutoff_hot_shingle_behavior(spark):
    """Worst-case corpus: one shingle in every doc. The cutoff must
    (a) keep pairs that also share rare shingles with EXACT inter/cont
    values via the hot-set correction join, and (b) drop pairs whose
    only overlap is the hot shingle — the documented recall dial."""
    hot = "h h h"  # a single 3-shingle present in every doc
    rows = []
    for i in range(30):
        rows.append((100 + i, f"{hot} u{i}a u{i}b u{i}c u{i}d", "b0"))
    # embedded-quote pair: doc 1 fully inside doc 2, plus the hot shingle
    rows.append((1, f"{hot} r1 r2 r3 r4", "b0"))
    rows.append((2, f"{hot} r1 r2 r3 r4 r5 r6 r7 r8 r9 r10", "b0"))
    # hot-only overlap pair
    rows.append((3, hot, "b0"))
    rows.append((4, hot, "b0"))
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")

    uncut = {
        (r.id_a, r.id_b): (r.inter, r.na, r.nb, r.cont_a, r.cont_b)
        for r in containment_pairs(
            docs, "doc_id", "text", ["source"], 3, 0.5
        ).collect()
    }
    cut = {
        (r.id_a, r.id_b): (r.inter, r.na, r.nb, r.cont_a, r.cont_b)
        for r in containment_pairs(
            docs, "doc_id", "text", ["source"], 3, 0.5, max_shingle_df=5
        ).collect()
    }
    # (a) exact values survive the cutoff: hot shingle re-added to inter
    assert cut[(1, 2)] == uncut[(1, 2)]
    assert cut[(1, 2)][3] == 1.0  # cont_a: doc 1 fully contained
    # (b) hot-only pair generated uncut (cont over tiny sets ≥ 0.5),
    # dropped by the cutoff
    assert (3, 4) in uncut and (3, 4) not in cut
