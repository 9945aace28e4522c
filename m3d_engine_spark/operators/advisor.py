"""Pre-flight dedup advisor: ONE diagnostic pass over a corpus that
prints the dials a 100 TB fuzzy/incremental dedup run should use —
before the run melts a reducer.

The compositions self-tune inside their own plans
(``fuzzy_dedup_corpus`` / ``incremental_dedup`` default
``salt_size="auto"`` → ``plans/skew.py::auto_salt_threshold``, an
in-plan histogram fold). This module is the HUMAN-facing twin: it
reads the percentiles and threshold from that same fold over the same
per-key count relation, plus the quantities an operator wants to see
before committing a cluster — bucket-size distribution, total candidate
pairs the LSH join will generate, how concentrated they are in the
hottest bucket, and the recommended ``salt_size`` / ``salt_parts`` /
``max_bucket_size`` values. It composes the existing diagnostics: the
per-key count relation is ``reporting.join_skew_report``'s aggregate,
and the pair estimate is ``reporting.join_size_estimate``'s exact
self-join arithmetic (k·(k−1)/2 per key — the self-join case where the
"estimate" is the ground truth).

The fold's exact disc percentiles come from a bucket-SIZE histogram
(one row per distinct size — hundreds of rows at any corpus scale)
instead of ``approx_percentile``, so the report is bit-deterministic
and DuckDB-oracle-checkable at no scale cost: nothing larger than the
histogram is ever sorted or single-partitioned.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from m3d_engine_spark.operators.dedup import lsh_bands
from m3d_engine_spark.plans.skew import AUTO_SALT_FLOOR, auto_salt_threshold


def bucket_dial_report(
    rel: DataFrame,
    key_cols: list[str],
    *,
    floor: int = AUTO_SALT_FLOOR,
    ratio: int = 8,
    max_parts: int = 64,
    boilerplate_factor: int = 16,
) -> DataFrame:
    """One-row dial recommendation for a pair-generating self-join on
    ``key_cols`` over ``rel``:

    * ``n_rows`` / ``n_buckets`` / ``bucket_p50`` / ``bucket_p95`` /
      ``bucket_max`` — the per-key count distribution (exact disc
      percentiles: value at rank ``ceil(q·n)`` of the sorted counts).
    * ``est_pairs`` — Σ k·(k−1)/2, the EXACT number of candidate pairs
      the self-join will generate (this is what the cluster pays).
    * ``top_pair_share`` — the hottest bucket's fraction of est_pairs:
      the straggler signal (one task owns this share of the join).
    * ``salt_size`` — the recommended hot-bucket threshold, same rule
      the compositions' "auto" mode applies: ``max(floor, ratio·p95)``
      when ``bucket_max`` exceeds it, else NULL (don't salt).
    * ``salt_parts`` — ``clamp(ceil(bucket_max / salt_size), 2,
      max_parts)`` when salting: enough parts that the hottest
      bucket's per-task share is ~salt_size rows.
    * ``max_bucket_size`` — the RECALL dial (drops buckets, changes
      output): suggested as ``boilerplate_factor·p95`` only when the
      hottest bucket alone carries over half of est_pairs AND is
      itself beyond that size — the classic boilerplate-page
      signature; NULL otherwise.
    """
    counts = rel.groupBy(*[F.col(c) for c in key_cols]).agg(
        F.count(F.lit(1)).alias("k")
    )
    pct = auto_salt_threshold(counts, "k", floor=floor, ratio=ratio).select(
        F.col("_p50").alias("bucket_p50"),
        F.col("_p95").alias("bucket_p95"),
        "_thr",
    )
    # integer-exact pair arithmetic (k·(k−1) is always even, so DIV 2
    # is exact; a double intermediate would drift at extreme sums and
    # break oracle determinism)
    kk = F.expr("k * (k - 1) DIV 2")
    pairs = counts.agg(
        F.sum("k").alias("n_rows"),
        F.count(F.lit(1)).alias("n_buckets"),
        F.max("k").alias("bucket_max"),
        F.sum(kk).cast("bigint").alias("est_pairs"),
        F.max(kk).cast("bigint").alias("_top_pairs"),
    )
    boiler = F.lit(int(boilerplate_factor)) * F.col("bucket_p95")
    return (
        pairs.crossJoin(F.broadcast(pct))
        .select(
            "n_rows",
            "n_buckets",
            "bucket_p50",
            "bucket_p95",
            "bucket_max",
            "est_pairs",
            F.when(
                F.col("est_pairs") > 0,
                F.round(F.col("_top_pairs") / F.col("est_pairs"), 6),
            ).alias("top_pair_share"),
            F.when(F.col("bucket_max") > F.col("_thr"), F.col("_thr"))
            .cast("bigint")
            .alias("salt_size"),
            F.when(
                F.col("bucket_max") > F.col("_thr"),
                F.least(
                    F.lit(int(max_parts)).cast("bigint"),
                    F.greatest(
                        F.lit(2).cast("bigint"),
                        # integer ceil-division: exact in both engines
                        F.expr("(bucket_max + _thr - 1) DIV _thr"),
                    ),
                ),
            )
            .cast("int")
            .alias("salt_parts"),
            F.when(
                (F.col("est_pairs") > 0)
                & (F.col("_top_pairs") / F.col("est_pairs") > 0.5)
                & (F.col("bucket_max") > boiler),
                boiler,
            )
            .cast("bigint")
            .alias("max_bucket_size"),
        )
    )


def dedup_preflight_report(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    *,
    num_hashes: int = 16,
    bands: int = 8,
    shingle_n: int = 3,
    floor: int = AUTO_SALT_FLOOR,
    ratio: int = 8,
) -> DataFrame:
    """The FuzzyDedup/IncrementalDedup pre-flight: LSH band relation →
    ``bucket_dial_report`` on (band, band_key) — the exact join key
    the dedup compositions self-join on, with the same LSH dials, so
    the report describes the actual job. One LSH pass + histogram-sized
    statistics; run it at corpus scale BEFORE the dedup run and feed
    the printed dials to the params file (or trust the compositions'
    built-in "auto", which folds the same rule inside the dedup plan
    itself)."""
    band_rel = lsh_bands(docs, id_col, text_col, num_hashes, bands, shingle_n)
    return bucket_dial_report(
        band_rel.select("band", "band_key"),
        ["band", "band_key"],
        floor=floor,
        ratio=ratio,
    )


def dedup_preflight_report_from_artifacts(
    spark,
    artifact_location: str,
    *,
    floor: int = AUTO_SALT_FLOOR,
    ratio: int = 8,
) -> DataFrame:
    """``dedup_preflight_report`` fed from materialized dedup artifacts
    (``operators/incremental.py::materialize_dedup_artifacts``) instead
    of recomputing the LSH pass: the band relation is already persisted
    at ``{artifact_location}/bands``, so advising a corpus that has
    artifacts costs one column-pruned parquet scan of (band, band_key)
    plus histogram-sized statistics — no shingling, no minhash, no
    corpus text read. Output is row-identical to the from-scratch
    report with the dials the artifacts were materialized with (the
    dials are BAKED INTO the band relation; that is why this function
    takes none). Equality is pinned in tests.

    The artifacts' ``_meta.json`` is read first — both to fail loudly
    on a path that is not an artifact directory and because its
    ``salt_size`` (when present) records the threshold materialize
    already committed; this report recomputes the recommendation from
    the same distribution, so a drifted corpus shows up as a changed
    dial next to the committed one. Artifacts of another MinHash family
    raise ``ConfigError`` (``incremental.check_minhash_family``): their
    bands are not the buckets the from-scratch report would count.
    """
    import json

    from m3d_engine_spark.operators.incremental import check_minhash_family
    from m3d_engine_spark.sources.dfs import DFS

    meta_path = f"{artifact_location}/_meta.json"
    meta = json.loads(DFS(spark).read_text(meta_path))
    for key in ("num_hashes", "bands", "shingle_n"):
        if key not in meta:
            raise ValueError(
                f"{meta_path} lacks {key!r} — not a dedup artifact directory"
            )
    check_minhash_family(meta, meta_path)
    band_rel = spark.read.parquet(f"{artifact_location}/bands")
    return bucket_dial_report(
        band_rel.select("band", "band_key"),
        ["band", "band_key"],
        floor=floor,
        ratio=ratio,
    )


def jaccard_dial_report(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    block_cols: list[str],
    *,
    shingle_n: int = 3,
    floor: int = AUTO_SALT_FLOOR,
    ratio: int = 8,
) -> DataFrame:
    """The ``ngram_jaccard_pairs`` pre-flight: the same
    ``bucket_dial_report`` over the (block..., shingle) POSTING
    relation — the exact key the inverted-index self-join explodes on,
    so the report describes that job's pair stream:

    * ``bucket_max`` = the hottest shingle's per-block document
      frequency; ``est_pairs`` = Σ df·(df−1)/2, exactly the candidate
      rows the join generates.
    * ``salt_size`` maps to the operator's ``salt_df`` dial (spread a
      hot shingle's pairs over ``salt_buckets`` tasks, output
      identical) and ``salt_parts`` to ``salt_buckets``.
    * ``max_bucket_size`` maps to ``max_shingle_df`` — the df-cutoff
      recall dial (drops ultra-frequent shingles from candidate
      generation; exact values preserved via the hot-set correction
      join, see ngram_jaccard_pairs) — recommended only when one
      boilerplate shingle alone carries most of the pair stream.

    Shingles are hashed to 64-bit before counting, mirroring the
    operator's join key (df is identical up to xxhash64 collisions
    within a block — negligible, and the operator itself joins on the
    same hash)."""
    from m3d_engine_spark.operators.dedup import shingle_array

    tok = docs.select(
        *[F.col(c) for c in block_cols],
        # outer: shingle_array never null/empty; the inner form's
        # inferred generate filter re-derives the pipeline per row
        F.explode_outer(
            F.array_distinct(shingle_array(F.col(text_col), shingle_n))
        ).alias("_shingle_str"),
    ).select(
        *[F.col(c) for c in block_cols],
        F.xxhash64("_shingle_str").alias("shingle"),
    )
    return bucket_dial_report(
        tok, [*block_cols, "shingle"], floor=floor, ratio=ratio
    )
