"""End-to-end fuzzy deduplication: corpus in, cleaned corpus out.

Beyond-reference capability — the production composition of the four
individually-verified stages (each separately oracled since round 4):

    1. candidate generation   — MinHash + banded LSH
                                (dedup.py::minhash_lsh_candidates)
    2. verification           — exact n-gram Jaccard on candidates only
                                (dedup.py::_exact_jaccard_on_candidates)
    3. clustering             — connected components over verified pairs
                                (graph.py::connected_components)
    4. survivor selection     — one doc per cluster by quality
                                (graph.py::cluster_survivors)
    5. materialization        — semi-join survivors back onto the corpus

This is how GPT-3/Gopher/RefinedWeb-style pipelines actually run dedup:
LSH proposes, exact Jaccard disposes, the transitive closure merges
overlapping pairs into clusters, and exactly one representative per
cluster reaches the training set.

Scale topology (the reason this is one operator, not a notebook):

* The verified edge relation is ``localCheckpoint``-ed ONCE, eagerly,
  between stages 2 and 3 — connected components re-reads its edge list
  every round, and without the checkpoint each propagation round would
  re-execute the whole LSH + shingle + verification pipeline (the most
  expensive part of the job, quadratic in rounds). Checkpointing also
  means the edges DataFrame carries no lineage into the CC loop, so the
  loop's own per-round checkpoints stay tiny. CC checkpoints its
  symmetrized edges and initial labels too, so AQE sizes every round to
  the few-hundred-row state instead of ``spark.sql.shuffle.partitions``
  tasks.
* Stages 1 and 2 shingle each document with one tokenization and
  O(tokens × n) work (``dedup.shingle_array``); a shingle lambda that
  re-split the text per shingle would make both stages quadratic in
  document length.
* Every exchange is keyed: LSH self-join on (band, band_key),
  verification joins on the document id, CC rounds on the vertex id,
  survivor agg on the component, the final semi-join on the id. No
  cartesian anywhere (pinned in tests/test_plans.py).
* Edges are near-cliques by construction (banded LSH), so label
  propagation converges in 2-4 rounds; pass ``use_star=True`` for the
  O(log² n) star-contraction variant if an adversarial corpus produces
  long chains.

Determinism: survivor = highest quality, ties to LOWEST id (total
order, engine-portable); default quality is the document's character
length — "keep the longest copy" is the standard near-dup heuristic
and is exactly reproducible in any SQL engine.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from m3d_engine_spark.operators.base import (
    Algorithm,
    pinned_join,
    register,
    tracked_checkpoint,
)
from m3d_engine_spark.operators.dedup import (
    _exact_jaccard_on_candidates,
    minhash_lsh_candidates,
    shingle_array,
)
from m3d_engine_spark.operators.graph import (
    cluster_survivors,
    connected_components,
    connected_components_star,
)
from m3d_engine_spark.plans.skew import planned_salt_size, salt_size_param


def fuzzy_dedup_corpus(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    quality: Column | None = None,
    *,
    num_hashes: int = 16,
    bands: int = 8,
    shingle_n: int = 3,
    threshold: float = 0.5,
    use_star: bool = False,
    max_bucket_size: int | None = None,
    salt_size: int | None | str = "auto",
    salt_parts: int = 8,
    track: "list | None" = None,
) -> DataFrame:
    """The cleaned corpus: every input column of ``docs`` for the rows
    that survive near-dedup, plus ``component`` (duplicate-cluster id =
    min doc id of the cluster) and ``cluster_size`` (1 for non-dupes).

    ``quality`` ranks survivors within a cluster (highest wins, ties to
    lowest id); defaults to ``length(text_col)``. ``threshold`` is the
    exact-Jaccard floor a candidate pair must clear to count as a
    duplicate edge. ``max_bucket_size``/``salt_size``/``salt_parts``
    pass through to the LSH candidate join (``_banded_candidates``):
    cap = drop giant boilerplate buckets (recall dial), salt = same
    pairs, hot bucket spread over ``salt_parts`` tasks.

    ``salt_size`` defaults to ``"auto"`` — the self-tuning form: the
    hot-bucket threshold is derived IN-PLAN from the observed
    per-bucket count distribution (``plans/skew.py::
    auto_salt_threshold`` over a ``groupBy(band, band_key)`` count,
    broadcast back as one row; no driver collect, no checkpoint). When
    no bucket is hot the hot stream is empty at runtime and every pair
    flows through the same exchange-reused cold join as
    ``salt_size=None``; when a boilerplate bucket IS hot, its pair
    stream spreads over ``salt_parts`` tasks with output pinned
    identical. The salted plan costs an exchange of map-side-combined
    per-bucket counts, the histogram's two exchanges, the 1-row
    threshold broadcast and the hot stream's own exchanges
    (``plans/skew.py::_flag_hot``), so "auto" plans it only when a
    bucket can be hot: a bucket holds at most one row per document, and
    a corpus of at most ``plans.skew.AUTO_SALT_FLOOR`` rows gets the
    plain join (``plans/skew.py::planned_salt_size``, a bounded
    ``take`` of the ids). Pass an int to force the threshold or None to
    disable salting entirely.

    Every checkpoint taken here and in connected components goes on
    ``track`` (``operators.base.tracked_checkpoint``) for the caller to
    free once the result has been consumed.
    """
    if quality is None:
        quality = F.length(F.col(text_col))
    salt_size = planned_salt_size(salt_size, salt_parts, docs.select(id_col))
    cands = minhash_lsh_candidates(
        docs, id_col, text_col, num_hashes=num_hashes, bands=bands,
        shingle_n=shingle_n, max_bucket_size=max_bucket_size,
        salt_size=salt_size, salt_parts=salt_parts,
    )
    # Candidate-bounded verification (guide §2.3): the exact-Jaccard
    # joins are INNER on (id_a, id_b), so shingling the WHOLE corpus
    # twice — and shuffling every doc's shingle array by id, once per
    # join side — only to drop all non-candidates inside the joins is
    # waste that scales with the corpus instead of the collision set.
    # Materialize the candidate pairs once (band-collision-bounded,
    # tiny next to the corpus) and semi-join the shingle source down
    # to the ids that appear in a pair: the candidate-id set
    # broadcasts, so the verify side becomes scan + broadcast-semi +
    # shingle-the-survivors.
    # Lazy: materializes inside the edges checkpoint's action — no
    # extra job barrier; measured -14% CPU vs corpus-wide verify and
    # wall-neutral locally (interleaved min-of-5, OPTIMIZATION_r16.md).
    cands = tracked_checkpoint(cands, track)
    # Explicit broadcast (guide §3.2): the id set comes off an RDD
    # scan (the checkpoint) whose size the planner cannot estimate —
    # without the hint the semi-join plans as a SortMergeJoin that
    # exchanges the corpus side by id (observed in the plans),
    # re-introducing the shuffle this reduction exists to remove.
    cand_ids = F.broadcast(
        cands.select(F.col("id_a").alias(id_col))
        .union(cands.select(F.col("id_b").alias(id_col)))
        .distinct()
    )
    sets = docs.join(cand_ids, on=id_col, how="leftsemi").select(
        F.col(id_col),
        F.array_distinct(shingle_array(F.col(text_col), shingle_n)).alias("sh"),
    )
    # Eager checkpoint: the ONE materialization of the LSH+verify
    # pipeline. CC's per-round edge re-reads hit this checkpoint, never
    # the md5 pipeline above it.
    edges = tracked_checkpoint(
        _exact_jaccard_on_candidates(sets, cands, id_col, threshold).select(
            "id_a", "id_b"
        ),
        track,
        eager=True,
    )
    cc = connected_components_star if use_star else connected_components
    comp = cc(
        docs.select(id_col), edges, id_col=id_col,
        src_col="id_a", dst_col="id_b", track=track,
    )
    survivors = cluster_survivors(
        comp,
        docs.select(F.col(id_col), quality.alias("_q")),
        id_col=id_col,
        quality_col="_q",
    )
    return pinned_join(
        docs,
        survivors.select(
            F.col("survivor_id").alias(id_col), "component", "cluster_size"
        ),
        on=id_col,
    )


# --------------------------------------------------------------------------
# CLI algorithm: params-driven dispatch (the CurationPipeline pattern)
# --------------------------------------------------------------------------

def _positive_or_none(p, key: str) -> int | None:
    """Parse an optional positive-int dial: unset → None (disabled),
    set → validated >0. An explicit 0/negative raises instead of
    silently disabling the dial (conflating 'unset' with a degenerate
    user value would hide a config typo at 100 TB, where a disabled
    bucket cap means an unbounded pair stream)."""
    raw = p.get_optional(key, None)
    if raw is None:
        return None
    if isinstance(raw, bool):
        # bool is an int subclass: {"key": true} would coerce to 1 and
        # silently set an aggressive dial instead of flagging the typo.
        raise ValueError(
            f"{key} must be a positive integer when set, got {raw!r}; "
            f"omit the parameter to disable the dial"
        )
    val = int(raw)
    if val <= 0:
        raise ValueError(
            f"{key} must be a positive integer when set, got {raw!r}; "
            f"omit the parameter to disable the dial"
        )
    return val


@register("FuzzyDedup")
class FuzzyDedupAlgorithm(Algorithm):
    """``fuzzy_dedup_corpus`` behind the reference's JSON-params
    dispatch — the whole raw-corpus → near-dedup'd-corpus pass as one
    spark-submit-able job:

        python -m m3d_engine_spark FuzzyDedup params.json

    Config keys:
      advise (false) — pre-flight mode: report the recommended dials
        for this corpus (operators/advisor.py) instead of deduping;
        printed when no target is configured, written otherwise. With
        artifact_location set, the report reads the band relation
        persisted by IncrementalDedup's materialize action instead of
        recomputing the LSH pass (near-zero cost; no source needed)
      source_location (parquet dir) OR source_table
      id_column (default "doc_id"), text_column (default "text")
      num_hashes (16), bands (8), shingle_n (3) — the LSH dials
      threshold (0.5) — the exact-Jaccard duplicate floor
      use_star (false) — large/small-star CC for long-chain graphs
      max_bucket_size (null) — drop LSH buckets larger than this
      salt_size ("auto") — hot-bucket salted join: "auto" derives the
        threshold from the per-bucket count distribution (planned only
        for corpora above ``plans.skew.AUTO_SALT_FLOOR`` rows, the
        smallest threshold it can pick), an int forces it, "off"
        disables; salt_parts (8) — spread factor
      target_location OR target_table (+ target_partitions,
      output_files_num, load_mode — the full write_output surface)

    The written table is the cleaned corpus: every input column of the
    surviving rows plus ``component`` and ``cluster_size``.
    """

    def read(self) -> list[DataFrame]:
        if bool(self.params.get_optional("advise", False)) and (
            self.params.has("artifact_location")
        ):
            return []  # advise-from-artifacts reads no corpus
        if self.params.has("source_table"):
            return [self.spark.table(self.params.get_string("source_table"))]
        return [
            self.spark.read.parquet(self.params.get_string("source_location"))
        ]

    def transform(self, dfs: list[DataFrame]) -> list[DataFrame]:
        p = self.params
        if bool(p.get_optional("advise", False)):
            # Pre-flight mode: ONE diagnostic pass that reports the
            # dials this corpus needs (salt_size / salt_parts /
            # max_bucket_size + the distribution that justifies them)
            # instead of running the dedup — point a cluster at this
            # first, read the row, then submit the real job (or trust
            # the built-in "auto", which applies the same rule).
            if p.has("artifact_location"):
                from m3d_engine_spark.operators.advisor import (
                    dedup_preflight_report_from_artifacts,
                )

                return [
                    dedup_preflight_report_from_artifacts(
                        self.spark, p.get_string("artifact_location")
                    )
                ]
            from m3d_engine_spark.operators.advisor import (
                dedup_preflight_report,
            )

            return [
                dedup_preflight_report(
                    dfs[0],
                    p.get_optional("id_column", "doc_id"),
                    p.get_optional("text_column", "text"),
                    num_hashes=p.get_optional_int("num_hashes", 16, minimum=1),
                    bands=p.get_optional_int("bands", 8, minimum=1),
                    shingle_n=p.get_optional_int("shingle_n", 3, minimum=1),
                )
            ]
        return [
            fuzzy_dedup_corpus(
                dfs[0],
                p.get_optional("id_column", "doc_id"),
                p.get_optional("text_column", "text"),
                num_hashes=p.get_optional_int("num_hashes", 16, minimum=1),
                bands=p.get_optional_int("bands", 8, minimum=1),
                shingle_n=p.get_optional_int("shingle_n", 3, minimum=1),
                threshold=float(p.get_optional("threshold", 0.5)),
                use_star=bool(p.get_optional("use_star", False)),
                max_bucket_size=_positive_or_none(p, "max_bucket_size"),
                salt_size=salt_size_param(p),
                salt_parts=p.get_optional_int("salt_parts", 8, minimum=1),
                track=self._checkpointed,
            )
        ]

    def write(self, dfs: list[DataFrame]) -> None:
        p = self.params
        if bool(p.get_optional("advise", False)) and not (
            p.has("target_location") or p.has("target_table")
        ):
            # advisory runs are usually eyeballed, not persisted
            dfs[0].show(truncate=False)
            return
        from m3d_engine_spark.sources.writers import write_output

        write_output(self.spark, dfs[0], self.params)
