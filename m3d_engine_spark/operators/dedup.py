"""Deduplication operators for large-scale training-data pipelines.

Beyond-reference capability (the reference has no dedup; its closest
relative is the CDC condensation window). Five strategies, all built
from JVM-side expressions + joins — no Python UDFs — so they scale as
ordinary shuffles:

* **exact** — group by content fingerprint (md5 of normalized text);
  canonical id = min(id). One shuffle on a 32-byte key.
* **MinHash + LSH** — token-shingle MinHash signatures, banded into LSH
  buckets; candidate pairs come from a self-equi-join on
  ``(band, band_key)``, i.e. a co-partitioned join instead of an O(n²)
  cross join. This is the workhorse for ~10⁹-document near-dedup.
* **SimHash** — 16-bit sign fingerprint of token hash bits; identical
  signature → near-dup candidate. Cheapest signal, one aggregation.
* **n-gram Jaccard** — exact pairwise Jaccard over shingle sets, blocked
  by a cheap key (e.g. source) to bound the quadratic term; used to
  verify LSH candidates.
* **embedding cosine** — near-dup pairs in sign-LSH buckets with cosine
  above a threshold (see operators/similarity.py for the ANN machinery).

Determinism: the base hash is md5-of-string (same bytes in any engine);
MinHash folds one md5 per shingle to an integer and derives its k hash
functions from it by a fixed affine family (``minhash_coeffs``), plain
BIGINT arithmetic that every engine computes identically. Results are
reproducible and oracle-checkable. All thresholds compare
``round(x, 4)`` to avoid float-boundary flakiness.
"""

from __future__ import annotations

import hashlib
from typing import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from m3d_engine_spark.functions.text import fingerprint, tokens, with_tokens
from m3d_engine_spark.functions.vectors import sign_lsh_bucket
from m3d_engine_spark.operators.base import pinned_join
from m3d_engine_spark.plans.skew import salted_self_join


# ---------------------------------------------------------------- exact
def exact_duplicates(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, fingerprint, canonical_id, group_size) — canonical is the
    smallest id sharing the fingerprint."""
    fp = df.select(F.col(id_col), fingerprint(F.col(text_col)).alias("fingerprint"))
    w = Window.partitionBy("fingerprint")
    return fp.select(
        F.col(id_col),
        F.col("fingerprint"),
        F.min(id_col).over(w).alias("canonical_id"),
        F.count(F.lit(1)).over(w).alias("group_size"),
    )


# ------------------------------------------------------------- shingles
def shingle_array(text: Column, n: int) -> Column:
    """Token n-gram shingles (space-joined); fewer than n tokens → the
    whole text as the single shingle.

    Cost contract: ONE tokenization per document and O(tokens × n) work
    for the shingles (``with_tokens`` binds the token array, so the
    per-shingle lambda slices it instead of re-splitting the text)."""

    def shingles(toks: Column) -> Column:
        return F.when(
            F.size(toks) >= n,
            F.transform(
                F.sequence(F.lit(0), F.size(toks) - n),
                lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
            ),
        ).otherwise(F.array(F.concat_ws(" ", toks)))

    return with_tokens(text, shingles)


# ----------------------------------------------------------- winnowing
def winnowing_fingerprints(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 3,
    window: int = 4,
) -> DataFrame:
    """Document fingerprints by winnowing (Schleimer et al., the MOSS
    algorithm): hash every ORDERED token ``shingle_n``-gram, slide a
    ``window``-wide window over the hash sequence, keep each window's
    minimum — the distinct kept hashes are the document's fingerprint
    set, guaranteed to share members for any match of length
    ``window + shingle_n - 1`` tokens. Density is ~2/(window+1) of all
    shingles, so the fingerprint set is a bounded-size sketch.

    Hashes are md5 hex strings (lexicographic min — engine-portable,
    oracle-checkable). Topology: posexplode → ONE exchange on the doc
    id (both the count and the sliding-min windows share it) → distinct.
    Documents shorter than one full window contribute their final
    (partial-window) minimum so every document gets >= 1 fingerprint.

    Returns (id, fingerprint) rows; equal fingerprints across documents
    are shared-substring evidence (the join key for plagiarism-style
    candidate generation).
    """
    sh = df.select(
        F.col(id_col),
        F.posexplode(shingle_array(F.col(text_col), shingle_n)).alias(
            "pos", "shingle"
        ),
    ).withColumn("h", F.md5("shingle"))
    per_doc = Window.partitionBy(id_col)
    sliding = (
        Window.partitionBy(id_col)
        .orderBy("pos")
        .rowsBetween(-(window - 1), Window.currentRow)
    )
    return (
        sh.withColumn("n_sh", F.count(F.lit(1)).over(per_doc))
        .withColumn("wmin", F.min("h").over(sliding))
        .filter(
            (F.col("pos") >= window - 1) | (F.col("pos") == F.col("n_sh") - 1)
        )
        .select(F.col(id_col), F.col("wmin").alias("fingerprint"))
        .distinct()
    )


# -------------------------------------------------------- MinHash + LSH


# MinHash family: one md5 per shingle, folded to x in [0, p), then
# h_j = (a_j·x + b_j) mod p — min-wise hashing (Broder 1997), the family
# Spark ML's MinHashLSH uses. With p = 2^31 − 1 every a_j·x + b_j stays
# below 2^62, so nothing overflows BIGINT under ANSI mode or in DuckDB.
MINHASH_PRIME = (1 << 31) - 1
# Recorded in persisted band artifacts: band keys of a different family
# never match, so a batch hashed with another one would admit every dup.
MINHASH_FAMILY = "md5-affine-p31-v1"


def minhash_coeffs(n: int) -> tuple[tuple[int, int], ...]:
    """The fixed ``(a_j, b_j)`` pairs of the first ``n`` hash functions:
    ``a_j`` in [1, p−1] and ``b_j`` in [0, p−1], each from the leading
    32 bits of ``md5("a{j}")`` / ``md5("b{j}")``. Literals shared by
    the engine and its DuckDB twins."""

    def word(tag: str) -> int:
        return int(hashlib.md5(tag.encode()).hexdigest()[:8], 16)

    return tuple(
        (word(f"a{j}") % (MINHASH_PRIME - 1) + 1, word(f"b{j}") % MINHASH_PRIME)
        for j in range(n)
    )


def _minhash_sig_wide(
    df: DataFrame, id_col: str, text_col: str,
    num_hashes: int, shingle_n: int,
) -> DataFrame:
    """Wide (id, h0..h{n-1}) BIGINT signature relation — THE production
    minhash pipeline: explode distinct shingles, one md5 per distinct
    shingle folded to x, the ``minhash_coeffs`` affine maps of x, then
    a min-aggregate keyed on the id (fixed-width buffers, so it plans
    as a map-side-combined HashAggregate; the shuffle carries only
    8-byte values, never documents). Shared by ``lsh_bands`` and
    ``lsh_calibration`` so the calibration audit measures exactly the
    LSH production runs."""
    p = F.lit(MINHASH_PRIME)
    exploded = df.select(
        F.col(id_col),
        # explode_outer: shingle_array is never null/empty, and the inner
        # form's InferFiltersFromGenerate filter would re-derive the whole
        # shingle pipeline per scan row (see ngram_jaccard_pairs).
        F.explode_outer(F.array_distinct(shingle_array(F.col(text_col), shingle_n))).alias("shingle"),
    )
    folded = exploded.select(
        F.col(id_col),
        (
            F.conv(F.substring(F.md5("shingle"), 1, 8), 16, 10).cast("bigint") % p
        ).alias("x"),
    )
    return folded.groupBy(id_col).agg(
        *[
            F.min((F.lit(a) * F.col("x") + F.lit(b)) % p).alias(f"h{j}")
            for j, (a, b) in enumerate(minhash_coeffs(num_hashes))
        ]
    )


def _band_keys(
    sig: DataFrame, id_col: str, num_hashes: int, bands: int
) -> DataFrame:
    """(id, band, band_key) from the wide signature relation:
    band_key = md5 of the band's '|'-joined decimal hashes."""
    rows = num_hashes // bands
    return sig.select(
        F.col(id_col),
        F.posexplode(
            F.array(*[
                F.md5(F.concat_ws("|", *[
                    F.col(f"h{b * rows + r}").cast("string") for r in range(rows)
                ]))
                for b in range(bands)
            ])
        ).alias("band", "band_key"),
    )


def _banded_candidates(
    bands_rel: DataFrame,
    id_col: str,
    max_bucket_size: int | None = None,
    salt_size: int | None | str = None,
    salt_parts: int = 8,
) -> DataFrame:
    """Distinct (id_a < id_b) pairs colliding in ≥1 band. SMJ-hinted so
    Catalyst reuses ONE shuffle exchange for both self-join sides (a
    broadcast plan would evaluate the md5 pipeline twice and flips
    nondeterministically with size estimates).

    Scale dials for giant buckets (a 10⁵-copy boilerplate page is one
    (band, band_key) bucket = one SMJ task owning k²/2 pair rows):

    - ``max_bucket_size`` DROPS buckets larger than it from candidate
      generation entirely — the standard web-dedup recall dial
      (ultra-large buckets are boilerplate, and their members usually
      also collide in rarer buckets). Changes output (documented).
    - ``salt_size`` keeps every pair but routes buckets larger than it
      through a salted join — left bucketed by
      ``pmod(xxhash64(id), salt_parts)``, right replicated per part,
      the part in the equi-key — so the k² stream spreads over
      ``salt_parts`` tasks. Output IDENTICAL to the unsalted join
      (each intra-bucket pair meets exactly once, in the left row's
      part; multi-band collisions collapse in the final distinct).
      ``salt_size="auto"`` derives the threshold IN-PLAN from the
      per-bucket count distribution (``plans/skew.py::
      auto_salt_threshold``; no driver collect) — the self-tuning
      default the compositions use. It costs an exchange of
      map-side-combined per-bucket counts, the count histogram's two
      exchanges, a 1-row threshold broadcast and the hot stream
      (``plans/skew.py::_flag_hot``), even when no bucket turns out
      hot; ``plans/skew.py::planned_salt_size`` says when it can skip
      them.

    Why AQE doesn't cover this: these self-joins deliberately pin
    ReusedExchange (one evaluation of the signature pipeline), and
    AQE's skew-join split skips joins whose shuffle is reused —
    repartitioning one consumer would invalidate the other. Explicit
    salting is the only straggler control compatible with the
    exchange-reuse plan.
    """
    rel = bands_rel
    if max_bucket_size is not None:
        # Bucket size via a window count on the join's own key — the
        # exchange is shared with the self-join below.
        rel = rel.withColumn(
            "_bsz",
            F.count(F.lit(1)).over(Window.partitionBy("band", "band_key")),
        )
        rel = rel.filter(F.col("_bsz") <= max_bucket_size).drop("_bsz")

    def _pairs(left: DataFrame, right: DataFrame, *extra_keys: str):
        l, r = left.alias("l").hint("merge"), right.alias("r")
        cond = [
            F.col("l.band") == F.col("r.band"),
            F.col("l.band_key") == F.col("r.band_key"),
        ]
        cond.extend(F.col(f"l.{k}") == F.col(f"r.{k}") for k in extra_keys)
        cond.append(F.col(f"l.{id_col}") < F.col(f"r.{id_col}"))
        return l.join(r, on=cond).select(
            F.col(f"l.{id_col}").alias("id_a"),
            F.col(f"r.{id_col}").alias("id_b"),
        )

    return salted_self_join(
        rel, ["band", "band_key"], id_col, _pairs, salt_size, salt_parts
    ).distinct()


def lsh_bands(
    df: DataFrame, id_col: str, text_col: str,
    num_hashes: int = 16, bands: int = 8, shingle_n: int = 3,
) -> DataFrame:
    """(id, band, band_key): signature split into ``bands`` equal bands;
    band_key = md5 of the band's joined hashes. Same band_key in the same
    band ⇒ LSH candidate.

    Topology: explode distinct shingles → one md5 per distinct shingle
    and its ``num_hashes`` affine images (``minhash_coeffs``) →
    groupBy(id).min per hash → band keys (one md5 per band). One
    Generate + one shuffle on the id (a naive nested-expression form
    re-evaluates the shingle array per hash function and per band —
    ~(hashes×bands)× the CPU). The shuffle carries only
    (id, num_hashes × BIGINT) rows, never documents, so at 10⁹ docs the
    agg is map-side-combinable and small.
    """
    assert num_hashes % bands == 0
    sig = _minhash_sig_wide(df, id_col, text_col, num_hashes, shingle_n)
    return _band_keys(sig, id_col, num_hashes, bands)


def minhash_lsh_candidates(
    df: DataFrame, id_col: str, text_col: str,
    num_hashes: int = 16, bands: int = 8, shingle_n: int = 3,
    max_bucket_size: int | None = None,
    salt_size: int | None | str = None,
    salt_parts: int = 8,
) -> DataFrame:
    """Distinct candidate pairs (id_a < id_b) colliding in ≥1 LSH band.

    The self-join key (band, band_key) co-partitions both sides: the
    shuffle moves only (id, 32-byte key) pairs, never documents.
    ``max_bucket_size`` / ``salt_size`` are the giant-bucket dials —
    see ``_banded_candidates`` (cap = recall dial; salt = exact, same
    pairs spread over ``salt_parts`` tasks).
    """
    b = lsh_bands(df, id_col, text_col, num_hashes, bands, shingle_n)
    return _banded_candidates(
        b, id_col,
        max_bucket_size=max_bucket_size,
        salt_size=salt_size,
        salt_parts=salt_parts,
    )


# -------------------------------------------------------------- SimHash
def simhash16(text: Column) -> Column:
    """16-bit SimHash over tokens (with multiplicity). Bit b of a token =
    parity of the ASCII code of hex digit b of md5(token); signature bit
    b = majority sign of Σ(2·bit−1). Portable: md5 hex and ASCII codes
    are identical in every engine."""
    toks = tokens(text)

    def bit_sum(b: int) -> Column:
        return F.aggregate(
            toks,
            F.lit(0),
            lambda acc, t: acc
            + (F.ascii(F.substring(F.md5(t), b + 1, 1)) % 2) * 2 - 1,
        )

    out = F.lit(0)
    for b in range(16):
        out = out + F.when(bit_sum(b) >= 0, F.lit(1 << b)).otherwise(F.lit(0))
    return out


def simhash_signatures(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, simhash): same signature as ``simhash16`` but computed via
    explode → md5-once-per-token → groupBy-sum, so each token is hashed
    once instead of once per bit (16× less md5 CPU). The shuffle carries
    16 small ints per token — map-side combinable."""
    toks = df.select(
        F.col(id_col), F.explode_outer(tokens(F.col(text_col))).alias("tok")
    )
    hashed = toks.select(F.col(id_col), F.md5("tok").alias("h"))
    contribs = hashed.select(
        F.col(id_col),
        *[
            F.coalesce(
                (F.ascii(F.substring("h", b + 1, 1)) % 2) * 2 - 1, F.lit(0)
            ).alias(f"b{b}")
            for b in range(16)
        ],
    )
    sums = contribs.groupBy(id_col).agg(
        *[F.sum(f"b{b}").alias(f"b{b}") for b in range(16)]
    )
    sig = F.lit(0)
    for b in range(16):
        sig = sig + F.when(F.col(f"b{b}") >= 0, F.lit(1 << b)).otherwise(F.lit(0))
    return sums.select(F.col(id_col), sig.cast("int").alias("simhash"))


def simhash_duplicates(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, simhash, canonical_id, group_size) by identical signature.
    (Hamming-distance-≤k matching = same join on rotated band slices.)"""
    sh = simhash_signatures(df, id_col, text_col)
    w = Window.partitionBy("simhash")
    return sh.select(
        F.col(id_col),
        F.col("simhash"),
        F.min(id_col).over(w).alias("canonical_id"),
        F.count(F.lit(1)).over(w).alias("group_size"),
    )


# ------------------------------------------------------- n-gram Jaccard
def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_cols: Sequence[str],
    shingle_n: int = 3,
    threshold: float = 0.2,
    max_shingle_df: int | None = None,
    salt_df: int | None | str = None,
    salt_buckets: int = 8,
) -> DataFrame:
    """Exact Jaccard over distinct shingle sets for pairs inside a
    block, with round(jaccard,4) ≥ threshold (must be > 0).

    Topology: explode distinct shingles → self-equi-join on
    (block, shingle) → count matches per pair = |A∩B|; |A∪B| =
    |A|+|B|−|A∩B|. Pairs sharing zero shingles never materialize
    (their Jaccard is 0 < threshold), so the cost is proportional to
    actual shingle collisions, not O(block²) array intersections —
    the same inverted-index trick that makes set-similarity joins
    feasible at 10⁹ docs.

    ``max_shingle_df`` is the hot-shingle control: shingles whose
    per-block document frequency exceeds it are dropped from CANDIDATE
    GENERATION only (a df-k shingle alone fans out k·(k−1)/2 join rows
    — quadratic in df, and ultra-frequent shingles carry no
    similarity signal). Values stay EXACT without any full-array
    recompute: the kept-shingle join count gives |A∩B| over kept
    shingles, and each document's (small) set of dropped hot shingles
    is aggregated separately and joined back onto the pair table, so
    ``|A∩B| = kept_overlap + |hot_A ∩ hot_B|`` and
    ``|A∪B| = |A|+|B|−|A∩B|`` from the full distinct sizes. The only
    relaxation is recall — a pair whose entire overlap is hot shingles
    is not generated. Verified equal to the uncut output whenever no
    shingle exceeds the cutoff (pinned); cost over the uncut path is
    one window count plus a join against the (hot-documents-only)
    correction table, NOT a per-pair array recompute.

    ``salt_df``/``salt_buckets`` close the residual straggler below
    the cutoff: a shingle with df = k fans its k·(k−1)/2 candidate
    rows into ONE SMJ task (one (block, shingle) key = one task's
    stream), so at 100 TB a boilerplate shingle just under the cutoff
    stalls the stage on a single core even though total work is
    bounded. With ``salt_df`` set, shingles whose df exceeds it are
    routed through a salted self-join: the left side gets a
    deterministic bucket ``pmod(xxhash64(id), salt_buckets)``, the
    right side is replicated once per bucket, and the join key gains
    the bucket — every intra-key pair still meets exactly once (in
    the left row's bucket), but the per-task stream shrinks from
    k·k to k·k/salt_buckets. OUTPUT IS IDENTICAL to the unsalted
    path (pinned): salting only re-partitions the same matches, at
    the cost of replicating hot-shingle rows ``salt_buckets``×.
    Cold shingles (df ≤ salt_df) keep today's exchange-reused plan.
    ``salt_df="auto"`` derives the threshold in-plan from the df
    distribution (``plans/skew.py::auto_salt_threshold``; no collect),
    at the cost of one extra exchange of map-side-combined per-key
    counts.
    """
    if threshold <= 0:
        raise ValueError("ngram_jaccard_pairs requires threshold > 0")
    if salt_df is not None and salt_buckets < 2:
        raise ValueError("salt_buckets must be ≥ 2 when salt_df is set")
    base = df.select(
        F.col(id_col),
        *[F.col(c) for c in block_cols],
        F.array_distinct(shingle_array(F.col(text_col), shingle_n)).alias("sh"),
    ).withColumn("n_sh", F.size("sh"))
    # Join/sort on the 64-bit hash of the shingle, not the string: the
    # self-join's exchange+sort keys on (block, shingle), and long
    # comparisons beat 20-40-byte string comparisons in the SMJ sort
    # while shrinking shuffle bytes. |A∩B| stays exact up to xxhash64
    # collisions WITHIN one document pair's shingles (~n²/2⁶⁴ —
    # negligible even at 10⁹ docs, and the DuckDB oracle would catch a
    # material collision as a hash mismatch).
    tok = base.select(
        F.col(id_col), *[F.col(c) for c in block_cols], F.col("n_sh"),
        # explode_outer, though sh is never null/empty (shingle_array
        # emits >= 1 element for ANY text): the inner explode triggers
        # InferFiltersFromGenerate, which pushes a size()>0 AND
        # isnotnull() filter below the scan-side exchange — that filter
        # re-derives the WHOLE tokenize+shingle pipeline per row (twice)
        # in the narrow pre-exchange stage, doubling the scan CPU at any
        # scale (measured -2 s on this entry at sf0.1). outer explode is
        # bit-identical here and generates no such filter.
        F.explode_outer("sh").alias("_shingle_str"),
    ).select(
        F.col(id_col), *[F.col(c) for c in block_cols], F.col("n_sh"),
        F.xxhash64("_shingle_str").alias("shingle"),
    )
    hot_sets = None
    if max_shingle_df is not None:
        # Per-(block, shingle) document frequency — same key as the
        # self-join, so the exchange is reusable. The window form (one
        # count over a partition) avoids a separate agg+join pass.
        tok = tok.withColumn(
            "_df",
            F.count(F.lit(1)).over(
                Window.partitionBy(*block_cols, "shingle")
            ),
        )
        # Correction table: each hot document's dropped shingles. Only
        # documents that contain a hot shingle appear, and each carries
        # only its hot shingles — tiny next to the full shingle sets,
        # and reads the same (block, shingle) exchange the join uses.
        hot_sets = (
            tok.filter(F.col("_df") > max_shingle_df)
            .groupBy(id_col)
            .agg(F.collect_set("shingle").alias("hot_sh"))
        )
        tok = tok.filter(F.col("_df") <= max_shingle_df).drop("_df")

    # Size filter: J(A,B) ≤ min(|A|,|B|)/max(|A|,|B|), so a pair whose
    # sizes differ by more than the threshold ratio can never qualify —
    # prune it inside the join before the aggregation shuffle. The
    # margin is the 4dp half-ulp: the OUTPUT filter compares
    # round(J, 4) >= threshold, so raw J down to threshold - 5e-5 still
    # qualifies and the prune must not cut it (|A|=19999 contained in
    # |B|=100000 at t=0.2 rounds up to exactly 0.2).
    tm = threshold - 0.00005

    def _pair_matches(left: DataFrame, right: DataFrame, *extra_keys: str):
        # SMJ hint: one shuffle of the exploded-shingle subtree, reused
        # for both sides (see minhash_lsh_candidates). Salted calls add
        # the bucket to the equi-key.
        l, r = left.alias("l").hint("merge"), right.alias("r")
        cond = [F.col(f"l.{c}") == F.col(f"r.{c}") for c in block_cols]
        cond.append(F.col("l.shingle") == F.col("r.shingle"))
        cond.extend(F.col(f"l.{k}") == F.col(f"r.{k}") for k in extra_keys)
        cond.append(F.col(f"l.{id_col}") < F.col(f"r.{id_col}"))
        cond.append(F.col("l.n_sh") >= F.col("r.n_sh") * tm)
        cond.append(F.col("r.n_sh") >= F.col("l.n_sh") * tm)
        return l.join(r, on=cond).select(
            F.col(f"l.{id_col}").alias("id_a"),
            F.col(f"r.{id_col}").alias("id_b"),
            F.col("l.n_sh").alias("na"),
            F.col("r.n_sh").alias("nb"),
        )

    # Cold shingles keep the plain (exchange-reused) self-join;
    # shingles hotter than salt_df go through the salted join so no
    # single (block, shingle) key owns a quadratic task. A shingle is
    # cold or hot for BOTH sides of a pair (df is a key-level
    # property), so every (pair, shingle) match lands in exactly one
    # stream — and in the salted stream exactly once, in the left
    # row's deterministic part.
    matches = salted_self_join(
        tok, [*block_cols, "shingle"], id_col, _pair_matches, salt_df,
        salt_buckets,
    )
    inter = matches.groupBy("id_a", "id_b", "na", "nb").agg(
        F.count(F.lit(1)).alias("inter")
    )
    inter_total = F.col("inter")
    if hot_sets is not None:
        # Both documents of a pair share the pair's block, so a
        # shingle's hot/kept status is identical on both sides: the
        # kept-join count plus the hot-set overlap is EXACTLY |A∩B|.
        inter = (
            inter.join(
                hot_sets.select(
                    F.col(id_col).alias("id_a"), F.col("hot_sh").alias("hot_a")
                ),
                on="id_a",
                how="left",
            )
            .join(
                hot_sets.select(
                    F.col(id_col).alias("id_b"), F.col("hot_sh").alias("hot_b")
                ),
                on="id_b",
                how="left",
            )
        )
        inter_total = inter_total + F.when(
            F.col("hot_a").isNull() | F.col("hot_b").isNull(), F.lit(0)
        ).otherwise(F.size(F.array_intersect(F.col("hot_a"), F.col("hot_b"))))
    jac = F.round(inter_total / (F.col("na") + F.col("nb") - inter_total), 4)
    return (
        inter.select("id_a", "id_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_cols: Sequence[str],
    shingle_n: int = 3,
    threshold: float = 0.5,
    max_shingle_df: int | None = None,
    salt_df: int | None | str = None,
    salt_buckets: int = 8,
) -> DataFrame:
    """ASYMMETRIC near-dup detection: shingle containment
    C(A→B) = |S(A)∩S(B)| / |S(A)| — the quote / excerpt / repost
    signal Jaccard structurally misses (a 50-token post embedded
    verbatim in a 5000-token page has J ≈ 0.01 but C ≈ 1.0).

    Returns (id_a, id_b, inter, na, nb, cont_a, cont_b) for pairs with
    ``max(cont_a, cont_b) ≥ threshold`` (> 0), where cont_a is how much
    of A is inside B. Same inverted-index topology as
    ``ngram_jaccard_pairs`` — explode distinct shingles, self-equi-join
    keyed on (block, xxhash64(shingle)), count collisions per pair — so
    cost is proportional to actual shingle collisions, never O(block²).
    Unlike Jaccard there is NO size-ratio prune (a tiny doc can be
    fully contained in a huge one — that asymmetry is the point), so
    ``max_shingle_df`` is the ONLY scale dial beyond blocking itself:
    shingles whose per-block document frequency exceeds it are dropped
    from candidate generation (a df-k shingle alone fans out k·(k−1)/2
    join rows — quadratic in df — and ultra-frequent shingles carry no
    containment signal). Values stay EXACT via the same hot-set
    correction join as ``ngram_jaccard_pairs``: the kept-shingle join
    count plus ``|hot_A ∩ hot_B|`` is exactly |A∩B| (both documents of
    a pair share the pair's block, so a shingle's hot/kept status is
    identical on both sides), and |A| / |B| come from the full distinct
    sizes, which the cutoff never touches. The only relaxation is
    recall — a pair whose entire overlap is hot shingles is not
    generated. Containment only needs the |A∩B| correction since na/nb
    are already exact; with cutoff ≥ max df the output is identical to
    the uncut path (pinned).

    ``salt_df``/``salt_buckets`` are the same sub-cutoff straggler fix
    as ``ngram_jaccard_pairs``: shingles with df > salt_df self-join
    through a bucketed key (left bucketed by ``pmod(xxhash64(id),
    salt_buckets)``, right replicated per bucket) so one hot
    (block, shingle) key's k² pair stream spreads over salt_buckets
    tasks instead of one. Output identical to the unsalted plan
    (pinned) — containment needs this dial MORE than Jaccard, since
    it has no size-ratio prune inside the join.
    """
    if threshold <= 0:
        raise ValueError("containment_pairs requires threshold > 0")
    if salt_df is not None and salt_buckets < 2:
        raise ValueError("salt_buckets must be ≥ 2 when salt_df is set")
    base = df.select(
        F.col(id_col),
        *[F.col(c) for c in block_cols],
        F.array_distinct(shingle_array(F.col(text_col), shingle_n)).alias("sh"),
    ).withColumn("n_sh", F.size("sh"))
    tok = base.select(
        F.col(id_col), *[F.col(c) for c in block_cols], F.col("n_sh"),
        # explode_outer for the same reason as ngram_jaccard_pairs: sh
        # is never null/empty, and the inner form's inferred generate
        # filter re-derives the shingle pipeline per scan row.
        F.explode_outer("sh").alias("_s"),
    ).select(
        F.col(id_col), *[F.col(c) for c in block_cols], F.col("n_sh"),
        F.xxhash64("_s").alias("shingle"),
    )
    hot_sets = None
    if max_shingle_df is not None:
        # Per-(block, shingle) df via a window count — same key as the
        # self-join, so it reads the join's own exchange (no extra
        # agg+join pass); see ngram_jaccard_pairs.
        tok = tok.withColumn(
            "_df",
            F.count(F.lit(1)).over(
                Window.partitionBy(*block_cols, "shingle")
            ),
        )
        hot_sets = (
            tok.filter(F.col("_df") > max_shingle_df)
            .groupBy(id_col)
            .agg(F.collect_set("shingle").alias("hot_sh"))
        )
        tok = tok.filter(F.col("_df") <= max_shingle_df).drop("_df")

    def _pair_matches(left: DataFrame, right: DataFrame, *extra_keys: str):
        l, r = left.alias("l").hint("merge"), right.alias("r")
        cond = [F.col(f"l.{c}") == F.col(f"r.{c}") for c in block_cols]
        cond.append(F.col("l.shingle") == F.col("r.shingle"))
        cond.extend(F.col(f"l.{k}") == F.col(f"r.{k}") for k in extra_keys)
        cond.append(F.col(f"l.{id_col}") < F.col(f"r.{id_col}"))
        return l.join(r, on=cond).select(
            F.col(f"l.{id_col}").alias("id_a"),
            F.col(f"r.{id_col}").alias("id_b"),
            F.col("l.n_sh").alias("na"),
            F.col("r.n_sh").alias("nb"),
        )

    # Exactly-once routing: df is a (block, shingle)-key property, so
    # each (pair, shingle) match lands in one stream only — and in the
    # salted stream once, in the left row's part.
    matches = salted_self_join(
        tok, [*block_cols, "shingle"], id_col, _pair_matches, salt_df,
        salt_buckets,
    )
    inter = matches.groupBy("id_a", "id_b", "na", "nb").agg(
        F.count(F.lit(1)).alias("inter")
    )
    if hot_sets is not None:
        # Exact-|A∩B| correction: add back the overlap among each
        # pair's dropped hot shingles (tiny per-document sets; only
        # hot-shingle-bearing documents appear in the table).
        inter = (
            inter.join(
                hot_sets.select(
                    F.col(id_col).alias("id_a"), F.col("hot_sh").alias("hot_a")
                ),
                on="id_a",
                how="left",
            )
            .join(
                hot_sets.select(
                    F.col(id_col).alias("id_b"), F.col("hot_sh").alias("hot_b")
                ),
                on="id_b",
                how="left",
            )
            .select(
                "id_a", "id_b", "na", "nb",
                (
                    F.col("inter")
                    + F.when(
                        F.col("hot_a").isNull() | F.col("hot_b").isNull(),
                        F.lit(0),
                    ).otherwise(
                        F.size(
                            F.array_intersect(F.col("hot_a"), F.col("hot_b"))
                        )
                    )
                ).alias("inter"),
            )
        )
    cont_a = F.round(F.col("inter") / F.col("na"), 4)
    cont_b = F.round(F.col("inter") / F.col("nb"), 4)
    return (
        inter.select(
            "id_a", "id_b", "inter", "na", "nb",
            cont_a.alias("cont_a"), cont_b.alias("cont_b"),
        )
        .filter(F.greatest(F.col("cont_a"), F.col("cont_b")) >= threshold)
    )


def _exact_jaccard_on_candidates(
    base: DataFrame, cands: DataFrame, id_col: str, threshold: float
) -> DataFrame:
    """Exact round(J,4) ≥ threshold over candidate (id_a, id_b) pairs,
    from the full ``sh`` shingle arrays in ``base`` — the verification
    stage of FuzzyDedup (the df-cutoff path instead uses the
    count+hot-set-correction form, which never ships full arrays)."""
    sets = base.select(F.col(id_col), F.col("sh"))
    jac = F.round(
        F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
        / F.size(F.array_union(F.col("sh_a"), F.col("sh_b"))),
        4,
    )
    with_a = pinned_join(
        cands,
        sets.select(F.col(id_col).alias("id_a"), F.col("sh").alias("sh_a")),
        on="id_a",
    )
    return (
        pinned_join(
            with_a,
            sets.select(F.col(id_col).alias("id_b"), F.col("sh").alias("sh_b")),
            on="id_b",
        )
        .select("id_a", "id_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


# ----------------------------------------------------- embedding cosine
def embedding_near_dupes(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.95,
    lsh_bits: int = 4,
    salt_size: int | None | str = None,
    salt_parts: int = 8,
) -> DataFrame:
    """Near-duplicate pairs by cosine ≥ threshold, candidate-limited to
    sign-LSH buckets (co-partitioned self-join, not a cross join).
    Norms are precomputed per vector (one sqrt each) instead of per
    candidate pair.

    ``lsh_bits`` is the primary scale dial (2^lsh_bits buckets — grow
    it with the corpus); ``salt_size``/``salt_parts`` is the residual
    straggler fix (same exactly-once bucketed second join as
    ``_banded_candidates``: identical output, a hot bucket's pair
    stream spread over ``salt_parts`` tasks)."""
    from m3d_engine_spark.functions.vectors import dot, norm

    base = df.select(
        F.col(id_col),
        F.col(vec_col).alias("v"),
        norm(F.col(vec_col)).alias("nrm"),
        sign_lsh_bucket(F.col(vec_col), lsh_bits).alias("bucket"),
    )

    def _pairs(left: DataFrame, right: DataFrame, *extra_keys: str):
        l, r = left.alias("l").hint("merge"), right.alias("r")
        cond = [F.col("l.bucket") == F.col("r.bucket")]
        cond.extend(F.col(f"l.{k}") == F.col(f"r.{k}") for k in extra_keys)
        cond.append(F.col(f"l.{id_col}") < F.col(f"r.{id_col}"))
        sim = F.round(
            dot(F.col("l.v"), F.col("r.v")) / (F.col("l.nrm") * F.col("r.nrm")),
            4,
        )
        return l.join(r, on=cond).select(
            F.col(f"l.{id_col}").alias("id_a"),
            F.col(f"r.{id_col}").alias("id_b"),
            sim.alias("cosine"),
        )

    out = salted_self_join(
        base, ["bucket"], id_col, _pairs, salt_size, salt_parts
    )
    return out.filter(F.col("cosine") >= threshold)


# ---------------------------------------------------- 64-bit SimHash
def simhash64_signatures(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, simhash64): 64-bit SimHash — bit b of a token comes from bit
    ``b%4`` of hex digit ``b//4`` of md5(token) (md5's 32 hex digits
    carry 128 bits; we use the first 64). Same explode → hash-once →
    groupBy-sum topology as the 16-bit variant. The 16-bit signature has
    only 65,536 buckets — a skew bomb and a false-positive factory at
    10⁹ docs; 64 bits is the standard near-dup fingerprint width.

    Portable recipe (mirrors the oracle SQL): digit value =
    strpos('0123456789abcdef', digit) - 1, bit = (value >> (b%4)) & 1.
    """
    toks = df.select(
        F.col(id_col), F.explode_outer(tokens(F.col(text_col))).alias("tok")
    )
    hashed = toks.select(F.col(id_col), F.md5("tok").alias("h"))
    hexmap = F.lit("0123456789abcdef")
    digit_vals = hashed.select(
        F.col(id_col),
        *[
            (F.instr(hexmap, F.substring("h", d + 1, 1)) - 1).alias(f"d{d}")
            for d in range(16)
        ],
    )
    contribs = digit_vals.select(
        F.col(id_col),
        *[
            F.coalesce(
                (F.shiftright(F.col(f"d{b // 4}"), b % 4).bitwiseAND(F.lit(1))) * 2 - 1,
                F.lit(0),
            ).alias(f"b{b}")
            for b in range(64)
        ],
    )
    sums = contribs.groupBy(id_col).agg(
        *[F.sum(f"b{b}").alias(f"b{b}") for b in range(64)]
    )
    sig = F.lit(0).cast("long")
    for b in range(64):
        # Bit 63 is the sign bit of a signed 64-bit long: 1<<63 doesn't
        # fit, so it contributes Long.MIN_VALUE instead — the resulting
        # two's-complement pattern is identical.
        contribution = -(1 << 63) if b == 63 else (1 << b)
        sig = sig + F.when(
            F.col(f"b{b}") >= 0, F.lit(contribution).cast("long")
        ).otherwise(F.lit(0).cast("long"))
    return sums.select(F.col(id_col), sig.alias("simhash64"))


def simhash64_hamming_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    hamming_k: int = 3,
    bands: int = 4,
    salt_size: int | None | str = None,
    salt_parts: int = 8,
) -> DataFrame:
    """(id_a, id_b, hamming) pairs with Hamming(simhash64) ≤ k.

    Banded Hamming join: the 64-bit signature splits into ``bands``
    16-bit slices; any pair within Hamming ≤ bands−1 (pigeonhole) shares
    at least one identical slice, so candidates come from an equi-join
    on (band_idx, band_value) — co-partitioned, never all-pairs — and
    the exact ``bit_count(xor)`` filter runs only on collisions.
    Requires hamming_k ≤ bands − 1 for completeness.

    ``salt_size``/``salt_parts``: a hot (band, band_val) slice value —
    inevitable at 10⁸+ docs with 16-bit slices — routes through the
    exactly-once salted second join (identical output; the final
    distinct collapses multi-band collisions exactly as before).
    """
    if hamming_k > bands - 1:
        raise ValueError(
            f"hamming_k={hamming_k} needs > {hamming_k} bands for a complete "
            "banded join (pigeonhole); raise bands or lower hamming_k"
        )
    assert 64 % bands == 0
    width = 64 // bands
    mask = (1 << width) - 1
    sigs = simhash64_signatures(df, id_col, text_col)
    banded = sigs.select(
        F.col(id_col),
        F.col("simhash64"),
        F.posexplode(
            F.array(*[
                F.shiftright(F.col("simhash64"), b * width).bitwiseAND(F.lit(mask))
                for b in range(bands)
            ])
        ).alias("band", "band_val"),
    )
    def _pairs(left: DataFrame, right: DataFrame, *extra_keys: str):
        l, r = left.alias("l").hint("merge"), right.alias("r")
        cond = [
            F.col("l.band") == F.col("r.band"),
            F.col("l.band_val") == F.col("r.band_val"),
        ]
        cond.extend(F.col(f"l.{k}") == F.col(f"r.{k}") for k in extra_keys)
        cond.append(F.col(f"l.{id_col}") < F.col(f"r.{id_col}"))
        return l.join(r, on=cond).select(
            F.col(f"l.{id_col}").alias("id_a"),
            F.col(f"r.{id_col}").alias("id_b"),
            F.bit_count(
                F.col("l.simhash64").bitwiseXOR(F.col("r.simhash64"))
            ).alias("hamming"),
        )

    matched = salted_self_join(
        banded, ["band", "band_val"], id_col, _pairs, salt_size, salt_parts
    )
    return matched.distinct().filter(F.col("hamming") <= hamming_k)


# ---------------------------------------------------- semantic dedup
def semantic_assignments(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    centroid_stride: int = 125,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """Coarse-quantizer cluster assignment for ``semantic_dedup``:
    (id, cluster, v, nrm), cluster = argmax-cosine centroid id.

    The quantizer is the same deliberately-sampled one as
    ``similarity.ivf_topk``: every ``centroid_stride``-th vector by id
    is a centroid, so the operator is deterministic and
    oracle-checkable; pass ``centroids`` — a (cluster, centroid)
    DataFrame, e.g. from ``kmeans.train_kmeans`` — to swap in a
    TRAINED quantizer: one relation changes, not the topology.

    Centroids broadcast (√N of the corpus at the classical stride);
    the argmax is a map-side combinable ``max_by`` on a totally-ordered
    struct (highest rounded cosine, ties to lowest centroid id), so the
    partial aggregation collapses the C centroid rows inside the scan
    partition and the exchange carries each vector exactly ONCE (with
    its payload — constant per group, ``first()`` is exact and cheaper
    than re-joining the vectors back on id), never N×C.
    """
    from m3d_engine_spark.functions.vectors import dot, norm

    if centroids is not None:
        cents = F.broadcast(
            centroids.select(
                F.col("cluster").alias("cent_id"),
                F.col("centroid").alias("centv"),
                norm(F.col("centroid")).alias("centn"),
            )
        )
    else:
        from m3d_engine_spark.functions.vectors import stride_sample

        cents = F.broadcast(
            stride_sample(df, id_col, centroid_stride).select(
                F.col(id_col).alias("cent_id"),
                F.col(vec_col).alias("centv"),
                norm(F.col(vec_col)).alias("centn"),
            )
        )
    base = df.select(
        F.col(id_col),
        F.col(vec_col).alias("v"),
        norm(F.col(vec_col)).alias("nrm"),
    )
    sim_to_cent = F.round(
        dot(F.col("v"), F.col("centv")) / (F.col("nrm") * F.col("centn")), 4
    )
    return (
        base.crossJoin(cents)
        .withColumn("_sim", sim_to_cent)
        .groupBy(id_col)
        .agg(
            # min_by over (-cosine, cent_id): highest cosine wins,
            # ties to the lowest cent_id; negating the score (always
            # numeric) instead of the id keeps string/trained cluster
            # ids legal; NULL cosine (zero-norm) sorts worst.
            F.min_by(
                "cent_id",
                F.struct(
                    F.coalesce(-F.col("_sim"), F.lit(2.0)).alias("s"),
                    F.col("cent_id").alias("c"),
                ),
            ).alias("cluster"),
            F.first("v").alias("v"),
            F.first("nrm").alias("nrm"),
        )
    )


def semantic_dedup(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    centroid_stride: int = 125,
    threshold: float = 0.95,
    centroids: DataFrame | None = None,
    salt_size: int | None | str = None,
    salt_parts: int = 8,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): partition the embedding space with a coarse
    quantizer, compute pairwise cosine only WITHIN each cluster, and
    mark a document a duplicate when it is ≥ ``threshold``-similar to a
    lower-id cluster-mate (lowest id wins — deterministic, engine
    portable). Returns one row per input: (id, cluster, max_sim,
    is_dup); filter ``~is_dup`` for the kept corpus.

    Topology: the assignment relation (``semantic_assignments``) is
    consumed three times — both sides of the intra-cluster self-join
    and the final output join — so it is ``localCheckpoint``-ed ONCE,
    eagerly (the fuzzy_dedup_corpus pattern): the N×C cosine pass runs
    exactly once, and the downstream joins read the materialized
    (id, cluster, v, nrm) rows. Intra-cluster pairs are a
    self-equi-join on the cluster id; the quadratic term is bounded by
    the largest cluster (N/k target; at 10⁹ docs pick stride ≈ √N so
    clusters stay ~√N) — the published SemDeDup cost model, and the
    stride is the dial. ``salt_size``/``salt_parts`` is the residual
    straggler fix when assignments skew anyway (real embeddings
    cluster unevenly): clusters larger than ``salt_size`` route
    through the exactly-once salted self-join, identical output.
    Exchanges: one groupBy(id) inside the checkpoint, one cluster
    join, one groupBy(id) max — all keyed, nothing all-pairs.
    """
    from m3d_engine_spark.functions.vectors import dot

    asg = semantic_assignments(
        df, id_col, vec_col, centroid_stride, centroids=centroids
    ).localCheckpoint(eager=True)

    def _mates(left: DataFrame, right: DataFrame, *extra_keys: str):
        l, r = left.alias("l"), right.alias("r")
        cond = [F.col("l.cluster") == F.col("r.cluster")]
        cond.extend(F.col(f"l.{k}") == F.col(f"r.{k}") for k in extra_keys)
        cond.append(F.col(f"l.{id_col}") < F.col(f"r.{id_col}"))
        pair_sim = F.round(
            dot(F.col("l.v"), F.col("r.v")) / (F.col("l.nrm") * F.col("r.nrm")),
            4,
        )
        return l.join(r, on=cond).select(
            F.col(f"r.{id_col}").alias(id_col), pair_sim.alias("_ps")
        )

    sims = salted_self_join(
        asg, ["cluster"], id_col, _mates, salt_size, salt_parts
    )
    dup_sim = sims.groupBy(id_col).agg(F.max("_ps").alias("max_sim"))
    return asg.join(dup_sim, on=id_col, how="left").select(
        F.col(id_col),
        F.col("cluster"),
        F.col("max_sim"),
        F.coalesce(F.col("max_sim") >= F.lit(threshold), F.lit(False)).alias(
            "is_dup"
        ),
    )


def remove_repeated_spans(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    span_tokens: int = 8,
    min_occurrences: int = 2,
) -> DataFrame:
    """ExactSubstr-style dedup (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better"): every
    ``span_tokens``-token window whose verbatim text occurs
    ≥ ``min_occurrences`` times corpus-wide is removed from every
    occurrence EXCEPT the canonical first (minimum (doc, pos)), and
    documents are rebuilt from their surviving token positions.
    Windows are the fixed-length relaxation of the paper's
    suffix-array arbitrary-length spans: a repeated region of R ≥ L
    tokens is covered by its R−L+1 repeated L-windows, so the region
    is removed end-to-end; only duplicated runs SHORTER than L escape.

    Topology (all keyed, nothing quadratic):

        per-position md5(L-gram) projection              [narrow]
        → per-gram count + min-occurrence election       [1 shuffle: gram]
        → join occurrences × repeated grams              [SMJ/broadcast on gram]
        → covered positions per doc (explode L, distinct)[shuffle: doc+pos]
        → collect per doc, rebuild by position filter    [shuffle: doc]

    The gram relation carries 16-byte keys, never gram text beyond the
    hash; document text rides only the first projection and the final
    rebuild join. Winner election is a lexicographic STRUCT min over
    (doc, pos) — map-side combinable, and free of the integer-packing
    pitfalls (id*1e6+pos collides past 1e6 token positions, overflows
    64-bit hash ids under ANSI, and cannot express string ids).
    Returns (id, clean_text, n_tokens, n_removed)."""
    L = int(span_tokens)
    base = docs.select(F.col(id_col), tokens(F.col(text_col)).alias("_tk"))
    occ = md5_window_occ(docs, id_col, text_col, L).withColumnRenamed(
        "gh", "_gh"
    )
    return rebuild_without_repeated_windows(
        base, occ, id_col, L, min_occurrences, window_key="_gh"
    )


def md5_window_occ(
    docs: DataFrame, id_col: str | None, text_col: str, span_tokens: int
) -> DataFrame:
    """(id, _pos, gh) md5 fingerprints of every full
    ``span_tokens``-token window — THE window-fingerprint projection
    of the ExactSubstr family, shared by :func:`remove_repeated_spans`
    and the decontamination artifact path (operators/suffix.py): the
    two must stay byte-identical or previously materialized artifacts
    silently stop matching, so there is exactly one copy.
    ``id_col=None`` omits the id (the artifact side needs only the
    hashes)."""
    L = int(span_tokens)
    if L < 1:
        raise ValueError(f"span_tokens must be >= 1, got {span_tokens}")
    base = docs.select(
        *([F.col(id_col)] if id_col else []),
        tokens(F.col(text_col)).alias("_tk"),
    )
    gram_arr = F.when(
        F.size(F.col("_tk")) >= L,
        F.transform(
            F.sequence(F.lit(0), F.size(F.col("_tk")) - L),
            lambda i: F.md5(F.concat_ws(" ", F.slice(F.col("_tk"), i + 1, L))),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return base.select(
        *([F.col(id_col)] if id_col else []),
        F.posexplode(gram_arr).alias("_pos", "gh"),
    )


def rebuild_without_repeated_windows(
    base: DataFrame,
    occ: DataFrame,
    id_col: str,
    span_tokens: int,
    min_occurrences: int,
    window_key: str,
) -> DataFrame:
    """Shared removal tail of the ExactSubstr family: given the
    tokenized corpus ``base`` (id, _tk) and a window-occurrence
    relation ``occ`` (id, _pos, key) whose key is EQUAL exactly when
    two length-``span_tokens`` windows are duplicates (an md5 gram in
    :func:`remove_repeated_spans`, an exact suffix-order equality
    class in ``operators/suffix.py``), elect the canonical minimum
    (doc, pos) occurrence per repeated key, mark every other
    occurrence's positions covered, and rebuild each document from its
    surviving tokens. Topology from the covered step down is keyed on
    doc — the shuffles are (key) → (doc) regardless of how the window
    key was produced."""
    L = int(span_tokens)
    pack = F.struct(
        F.col(id_col).alias("_wid"), F.col("_pos").alias("_wpos")
    )
    rep = (
        occ.groupBy(window_key)
        .agg(F.count(F.lit(1)).alias("_c"), F.min(pack).alias("_win"))
        .filter(F.col("_c") >= min_occurrences)
        .select(window_key, "_win")
    )
    covered = (
        occ.join(rep, on=window_key)
        .filter(pack != F.col("_win"))
        .select(
            F.col(id_col),
            F.explode(
                F.sequence(F.col("_pos"), F.col("_pos") + F.lit(L - 1))
            ).alias("_cp"),
        )
    )
    return rebuild_without_positions(base, covered, id_col)


def rebuild_without_positions(
    base: DataFrame, covered: DataFrame, id_col: str
) -> DataFrame:
    """Rebuild each document of ``base`` (id, _tk) dropping the token
    positions listed in ``covered`` (id, _cp; duplicates welcome —
    collect_set deduplicates map-side, so NO distinct precedes it:
    that was a dead extra exchange over the largest intermediate of
    the removal tail). The single shared exit of the ExactSubstr
    family — dedup, exact dedup, and decontaminate all produce
    (id, clean_text, n_tokens, n_removed) through this function, so
    the output contract cannot diverge between them."""
    covs = covered.groupBy(id_col).agg(F.collect_set("_cp").alias("_cov"))
    cov = F.coalesce(F.col("_cov"), F.array().cast("array<int>"))
    kept = F.filter(
        F.transform(
            F.col("_tk"),
            lambda x, i: F.when(~F.array_contains(cov, i), x),
        ),
        lambda x: x.isNotNull(),
    )
    return (
        base.join(covs, on=id_col, how="left")
        .select(
            F.col(id_col),
            F.concat_ws(" ", kept).alias("clean_text"),
            F.size(F.col("_tk")).cast("int").alias("n_tokens"),
            (F.size(F.col("_tk")) - F.size(kept)).cast("int").alias("n_removed"),
        )
    )


def ngram_novelty(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 3,
) -> DataFrame:
    """Per-document n-gram novelty: the fraction of a document's
    DISTINCT ``shingle_n``-gram shingles that occur in NO other
    document — the inverse of the near-dup signal, and the selection
    score for "how much does this document add that the corpus does
    not already have" (novelty-weighted curation picks high-novelty
    docs first; boilerplate and templated pages score ≈ 0).

    Topology: the inverted-index backbone shared with
    ``ngram_jaccard_pairs`` — explode distinct shingles, aggregate
    corpus document-frequency per 64-bit shingle hash (map-side
    combinable, vocabulary-sized), equi-join back on the hash, ONE
    per-doc aggregate. Shingle text never crosses an exchange (8-byte
    xxhash64 keys, same collision budget as the Jaccard join).
    Returns (id, n_shingles, n_novel, novelty) with novelty =
    round(n_novel / n_shingles, 4); empty/short docs collapse to
    their whole-text single shingle (shingle_array contract).
    """
    sh = df.select(
        F.col(id_col),
        # outer: shingle_array never null/empty; avoids the inferred
        # generate filter re-deriving the pipeline per row
        F.explode_outer(
            F.array_distinct(shingle_array(F.col(text_col), shingle_n))
        ).alias("_s"),
    ).select(F.col(id_col), F.xxhash64("_s").alias("sh"))
    corpus_df = sh.groupBy("sh").agg(F.count(F.lit(1)).alias("_df"))
    return (
        sh.join(corpus_df, on="sh")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_shingles"),
            F.sum(F.when(F.col("_df") == 1, 1).otherwise(0))
            .cast("long")
            .alias("n_novel"),
        )
        .select(
            F.col(id_col),
            "n_shingles",
            "n_novel",
            F.round(F.col("n_novel") / F.col("n_shingles"), 4).alias(
                "novelty"
            ),
        )
    )


def lsh_calibration(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 16,
    bands: int = 8,
    shingle_n: int = 3,
) -> DataFrame:
    """MinHash dial audit — for every LSH candidate pair, the
    signature's Jaccard ESTIMATE (matching minhash positions /
    num_hashes) next to the EXACT shingle-set Jaccard and their
    absolute error. This is the "measure, don't guess" loop for the
    (num_hashes, bands) dials: run it on a corpus sample, read the
    error distribution and the estimate threshold that corresponds to
    the exact threshold you actually want, then set the production
    dials. E[est] = J and Var = J(1−J)/num_hashes, so the observed
    spread directly exposes whether num_hashes is big enough.

    Topology: signatures via the hash-once explode→min aggregation of
    ``lsh_bands`` (one md5 per distinct shingle), kept as columns;
    band keys posexplode from the SAME signature relation; candidates
    from the banded self-equi-join; the signature compare and the
    exact verify are candidate-sized equi-joins back to node-keyed
    relations. Full shingle arrays ride ONLY to candidate pairs (the
    fuzzy-dedup verify discipline), never the banded join.

    Returns (id_a, id_b, est_j, exact_j, abs_err), 4dp.
    """
    assert num_hashes % bands == 0
    # One corpus minhash pass, pinned: the signature relation feeds
    # THREE consumers (band keys -> candidates, and the two est-side
    # joins below); left lazy each consumer re-derives the whole
    # explode+md5 pipeline from the scan — the before-plan showed 16
    # document scans and zero ReusedExchange for this one query. A
    # lazy localCheckpoint materializes it once inside the terminal
    # action (guide §2.4: two operations keyed the same way share one
    # evaluation).
    sig = _minhash_sig_wide(df, id_col, text_col, num_hashes, shingle_n)
    sig = sig.localCheckpoint(eager=False)
    bands_rel = _band_keys(sig, id_col, num_hashes, bands)
    # Candidate pairs pinned too (they feed the est joins AND the
    # exact verify), and the verify inputs below are bounded by the
    # candidate ids instead of the corpus — the fuzzy-dedup verify
    # discipline (guide §2.3): the exact-Jaccard side re-shingles only
    # docs that appear in a pair, and the broadcast hint keeps the
    # semi-join from exchanging the corpus by id (the planner cannot
    # size an RDD-scan input).
    cands = _banded_candidates(bands_rel, id_col).localCheckpoint(eager=False)
    cand_ids = F.broadcast(
        cands.select(F.col("id_a").alias(id_col))
        .union(cands.select(F.col("id_b").alias(id_col)))
        .distinct()
    )
    sig_arr = sig.join(cand_ids, on=id_col, how="leftsemi").select(
        F.col(id_col),
        F.array(*[F.col(f"h{j}") for j in range(num_hashes)]).alias("sig"),
    )
    est = F.round(
        F.size(
            F.filter(
                F.zip_with(
                    F.col("sig_a"), F.col("sig_b"), lambda a, b: a == b
                ),
                lambda x: x,
            )
        )
        / F.lit(float(num_hashes)),
        4,
    )
    base = df.join(cand_ids, on=id_col, how="leftsemi").select(
        F.col(id_col),
        F.array_distinct(shingle_array(F.col(text_col), shingle_n)).alias(
            "sh"
        ),
    )
    exact = _exact_jaccard_on_candidates(base, cands, id_col, threshold=0.0)
    return (
        cands.join(
            sig_arr.select(F.col(id_col).alias("id_a"), F.col("sig").alias("sig_a")),
            on="id_a",
        )
        .join(
            sig_arr.select(F.col(id_col).alias("id_b"), F.col("sig").alias("sig_b")),
            on="id_b",
        )
        .select("id_a", "id_b", est.alias("est_j"))
        .join(exact, on=["id_a", "id_b"])
        .select(
            "id_a", "id_b", "est_j",
            F.col("jaccard").alias("exact_j"),
            F.round(F.abs(F.col("est_j") - F.col("jaccard")), 4).alias(
                "abs_err"
            ),
        )
    )


def source_overlap(
    df: DataFrame,
    source_col: str,
    text_col: str,
    shingle_n: int = 3,
) -> DataFrame:
    """Cross-source contamination matrix: for every pair of corpus
    sources, how much distinct ``shingle_n``-gram content they share —
    ``jaccard`` (symmetric overlap) and ``containment`` (share of the
    SMALLER side, the leakage-detection number: a small source fully
    quoted inside a big crawl shows containment ≈ 1 at tiny jaccard).
    The corpus-level rollup of the per-document novelty/containment
    tier: "is source A secretly a re-crawl of source B" answered
    before any per-document work.

    Topology: the inverted-index backbone once more — distinct
    (source, shingle-hash) relation, self-equi-join on the 64-bit
    hash with ``source_a < source_b``, pair counts + per-source
    totals via broadcast (sources are few by definition). Shingle
    text never crosses an exchange. The distinct relation is consumed
    THREE times (sizes + both self-join sides), so it is checkpointed
    once — the explode+hash+distinct pass over the corpus runs exactly
    once (the semantic_dedup/triangle_count discipline), not per
    consumer.
    """
    sh = (
        df.select(
            F.col(source_col).alias("_src"),
            # outer: same inferred-generate-filter avoidance as above
            F.explode_outer(
                F.array_distinct(shingle_array(F.col(text_col), shingle_n))
            ).alias("_s"),
        )
        .select("_src", F.xxhash64("_s").alias("_h"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    sizes = sh.groupBy("_src").agg(F.count(F.lit(1)).alias("_n"))
    a = sh.select(F.col("_src").alias("source_a"), "_h")
    b = sh.select(F.col("_src").alias("source_b"), "_h")
    common = (
        a.join(b, on="_h")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = F.broadcast(sizes.select(F.col("_src").alias("source_a"), F.col("_n").alias("n_a")))
    sb = F.broadcast(sizes.select(F.col("_src").alias("source_b"), F.col("_n").alias("n_b")))
    return (
        common.join(sa, on="source_a")
        .join(sb, on="source_b")
        .select(
            "source_a",
            "source_b",
            "n_a",
            "n_b",
            "n_common",
            F.round(
                F.col("n_common")
                / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
                4,
            ).alias("jaccard"),
            F.round(
                F.col("n_common") / F.least(F.col("n_a"), F.col("n_b")), 4
            ).alias("containment"),
        )
    )
