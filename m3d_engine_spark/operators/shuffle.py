"""Deterministic epoch shuffling: the training-order preparation pass.

Beyond-reference capability — after curation, packing and splitting,
a training run needs each epoch's documents in a different,
REPRODUCIBLE pseudo-random order, sharded for parallel readers. RNG
state is the wrong tool at 10⁹ documents (engine- and
partitioning-dependent); the hash trick from ``hash_split`` is the
right one: order and placement derive from md5(epoch ":" id), so every
engine, every run, and every partitioning produces the identical
epoch permutation, and changing ``epoch`` reshuffles everything.

    h     = md5(epoch ":" id)            [projection]
    shard = int(h[:8]) mod num_shards    [projection]
    order = (h, id) within the shard     [1 exchange keyed on shard
                                          + in-partition sort]

Scale shape: the one exchange is keyed on the shard id — choose
``num_shards`` ≥ cluster parallelism (shards are uniform by
construction: md5 is balanced, no skew possible). ``rank=True``
materializes the in-shard order as a column (row_number per shard).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def epoch_shuffle(
    df: DataFrame,
    id_col: str,
    epoch: int,
    num_shards: int = 256,
    rank: bool = True,
) -> DataFrame:
    """Append ``shard`` (int in [0, num_shards)) and — with
    ``rank=True`` — ``rk`` (1-based position within the shard's epoch
    order). Deterministic: same (epoch, id) → same placement
    everywhere."""
    if num_shards <= 0:
        raise ValueError("num_shards must be positive")
    h = F.md5(
        F.concat(F.lit(f"{int(epoch)}:"), F.col(id_col).cast("string"))
    )
    key = F.conv(F.substring(h, 1, 8), 16, 10).cast("long")
    out = df.withColumn("_h", h).withColumn(
        "shard", F.pmod(key, F.lit(int(num_shards))).cast("int")
    )
    if rank:
        w = Window.partitionBy("shard").orderBy(F.col("_h"), F.col(id_col))
        out = out.withColumn("rk", F.row_number().over(w).cast("int"))
    return out.drop("_h")


def rendezvous_assign(
    df: DataFrame,
    id_col: str,
    num_shards: int,
    salt: str = "",
) -> DataFrame:
    """Rendezvous (highest-random-weight) shard assignment: each key
    goes to ``argmax_s md5(salt ":" s ":" key)`` — the stability
    upgrade over mod-sharding that matters when shard counts change:
    growing S → S+1 moves only the ~1/(S+1) of keys the new shard
    wins, while ``pmod(hash, S)`` reshuffles almost everything (an
    epoch-shuffle or bucketed-corpus resize under mod-sharding is a
    full rewrite; under HRW it is an incremental move).

    Pure projection: the S candidate weights evaluate per row inside
    codegen (array argmax over md5 prefixes — lowercase hex compares
    lexicographically == numerically, no integer conversion), zero
    exchanges, deterministic everywhere. The argmax cost is S md5s per
    row.
    """
    if num_shards < 1:
        raise ValueError("num_shards must be >= 1")
    key = F.col(id_col).cast("string")
    weights = F.array(
        *[
            F.struct(
                F.substring(
                    F.md5(F.concat(F.lit(f"{salt}:{s}:"), key)), 1, 16
                ).alias("w"),
                F.lit(s).cast("int").alias("s"),
            )
            for s in range(int(num_shards))
        ]
    )
    return df.withColumn(
        "shard", F.array_max(weights).getField("s")
    )
