"""Warm runs reuse their generated classes: the codegen cache holds a
run's working set, and plans that run every round compile the same
code each time."""

from __future__ import annotations

import pytest
from pyspark.sql import Row

from m3d_engine_spark.operators.fuzzy_dedup import fuzzy_dedup_corpus
from m3d_engine_spark.operators.graph import (
    connected_components,
    connected_components_star,
)
from m3d_engine_spark.session import SCALE_DEFAULTS, codegen_compiles

_CACHE_CONF = "spark.sql.codegen.cache.maxEntries"


def test_session_sizes_codegen_cache(spark):
    assert spark.conf.get(_CACHE_CONF) == SCALE_DEFAULTS[_CACHE_CONF]


def test_session_keeps_broadcast_pieces_out_of_humongous_regions(spark):
    # G1's smallest region is 1 MB; an object of half a region or more
    # is allocated outside eden. A piece is a byte[] with a 16-byte
    # header, and a unitless blockSize counts KiB, as Spark reads it.
    key = "spark.broadcast.blockSize"
    conf = spark.sparkContext._jsc.sc().conf()  # noqa: SLF001
    assert conf.get(key) == SCALE_DEFAULTS[key]
    assert conf.getSizeAsKb(key) * 1024 + 16 < 512 * 1024


def test_components_rerun_compiles_nothing(spark):
    # Two rounds of propagation plus the converged one; each round's
    # convergence probe is an Observation on that round's checkpoint.
    nodes = spark.createDataFrame([Row(id=i) for i in range(6)])
    edges = spark.createDataFrame(
        [Row(src=0, dst=1), Row(src=1, dst=2), Row(src=3, dst=4)]
    )
    expected = {0: 0, 1: 0, 2: 0, 3: 3, 4: 3, 5: 5}
    first = dict(connected_components(nodes, edges).collect())
    before = codegen_compiles(spark)
    second = dict(connected_components(nodes, edges).collect())
    assert codegen_compiles(spark) - before == 0
    assert first == second == expected


def test_components_star_rerun_compiles_nothing(spark):
    # A 4-chain and a 3-chain: several star rounds, each with its own
    # fingerprint probe.
    nodes = spark.createDataFrame([Row(id=i) for i in range(7)])
    edges = spark.createDataFrame(
        [Row(src=0, dst=1), Row(src=1, dst=2), Row(src=2, dst=3),
         Row(src=4, dst=5), Row(src=5, dst=6)]
    )
    expected = {0: 0, 1: 0, 2: 0, 3: 0, 4: 4, 5: 4, 6: 4}
    first = dict(connected_components_star(nodes, edges).collect())
    before = codegen_compiles(spark)
    second = dict(connected_components_star(nodes, edges).collect())
    assert codegen_compiles(spark) - before == 0
    assert first == second == expected


@pytest.mark.slow
def test_fuzzy_dedup_warm_rerun_hits_codegen_cache(spark):
    # 10 groups of 3 near-duplicates (one token of 30 replaced), each
    # group with its own vocabulary.
    docs = spark.createDataFrame([
        Row(id=g * 3 + v, text=" ".join(
            f"v{v}x{g}" if v and k == 7 * v else f"g{g}w{k}"
            for k in range(30)
        ))
        for g in range(10) for v in range(3)
    ])
    counts, outs = [], []
    for _ in range(3):
        before = codegen_compiles(spark)
        outs.append(sorted(
            (r.id, r.component, r.cluster_size)
            for r in fuzzy_dedup_corpus(docs, "id", "text").collect()
        ))
        counts.append(codegen_compiles(spark) - before)
    assert outs[0] == outs[1] == outs[2]
    assert len(outs[0]) == 10
    assert counts[2] <= 0.05 * counts[0], counts
