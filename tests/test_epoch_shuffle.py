"""Deterministic epoch shuffle semantics."""

from __future__ import annotations

from pyspark.sql import functions as F

from m3d_engine_spark.operators.shuffle import epoch_shuffle


def test_epoch_shuffle_deterministic_and_epoch_sensitive(spark):
    docs = spark.range(2000).select(F.col("id").alias("doc_id"))
    a = {(r.doc_id): (r.shard, r.rk)
         for r in epoch_shuffle(docs, "doc_id", epoch=1, num_shards=8).collect()}
    b = {(r.doc_id): (r.shard, r.rk)
         for r in epoch_shuffle(
             docs.repartition(13), "doc_id", epoch=1, num_shards=8
         ).collect()}
    assert a == b  # partitioning-independent
    c = {(r.doc_id): (r.shard, r.rk)
         for r in epoch_shuffle(docs, "doc_id", epoch=2, num_shards=8).collect()}
    assert a != c  # a new epoch is a new permutation
    moved = sum(1 for k in a if a[k] != c[k])
    assert moved > 1500  # and it moves essentially everything
    # shards are balanced (md5 is uniform): no shard holds > 2x its share
    from collections import Counter

    sizes = Counter(s for s, _ in a.values())
    assert len(sizes) == 8 and max(sizes.values()) < 2 * (2000 / 8)
    # ranks are a 1..n permutation within each shard
    per_shard: dict[int, list[int]] = {}
    for s, rk in a.values():
        per_shard.setdefault(s, []).append(rk)
    for rks in per_shard.values():
        assert sorted(rks) == list(range(1, len(rks) + 1))
