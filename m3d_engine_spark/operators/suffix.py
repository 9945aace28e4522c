"""Exact suffix-ordering tier: ExactSubstr without hashing.

:func:`remove_repeated_spans` (operators/dedup.py) realizes Lee et
al. 2022 ("Deduplicating Training Data Makes Language Models Better")
with md5 window fingerprints — probabilistically exact. This module
removes the hash entirely: window equality is decided by **prefix
doubling over the token lattice** (Manber & Myers 1990 suffix-array
construction, the distributed formulation of Karp-Miller-Rosenberg),
so two windows compare equal iff their token sequences ARE equal. No
collision budget, no fingerprint width dial.

Equality classes, not ranks. Classic suffix-array construction needs
a total ORDER over suffixes, whose distributed form costs a global
sort (single-task dense-rank bottleneck) or an order-preserving
integer packing (overflows 64 bits past ~4 G positions — a 100 TB
corpus has ~10^13). ExactSubstr needs only EQUALITY of fixed-length
prefixes, and equality classes compact without any global order: a
class is named by its minimum (doc, pos) member — a groupBy + min,
map-side combinable, any cluster size. Each doubling round is

    cur (doc, pos, cls_k)                              [state]
    → self-join on (doc, pos+k) for the mate class     [1 shuffle: doc+pos]
    → key = struct(cls_k(i), cls_k(i+k))               [narrow]
    → groupBy key, min (doc,pos) = cls_2k name         [1 shuffle: key]
    → join back on key                                 [reuses the key exchange]

ceil(log2 L) rounds reach prefix length >= L; for non-power-of-two L
the final window key is the overlapped pair
(cls_p(i), cls_p(i + L - p)) with p the largest power of two <= L —
the standard sparse-table equality trick, one extra shifted join.
Suffixes never cross document boundaries (the paper's separator
tokens never match anything); truncated tail suffixes carry a null
mate class, which equals no real class, so a short prefix can never
be conflated with a full one.

The reference (adidas/m3d-engine) has no dedup tier at all — this
module is part of the beyond-reference LLM-pipeline surface, sharing
its removal tail with operators/dedup.py so the two implementations
stay contract-identical (pytest pins their equivalence).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from m3d_engine_spark.functions.text import tokens
from m3d_engine_spark.operators.base import Algorithm, register, tracked_checkpoint
from m3d_engine_spark.operators.dedup import (
    md5_window_occ,
    rebuild_without_positions,
    rebuild_without_repeated_windows,
)


def _tokenized(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    return docs.select(
        F.col(id_col), tokens(F.col(text_col)).alias("_tk")
    )


def suffix_window_classes(
    base: DataFrame,
    id_col: str,
    span_tokens: int,
    initial_gram: int = 8,
    track: "list | None" = None,
) -> DataFrame:
    """Exact equality classes of the length-``span_tokens`` windows of
    a tokenized corpus ``base`` (id, _tk array<string>).

    Returns (id, _pos, _cls) for every FULL window start (``_pos`` +
    ``span_tokens`` <= token count); ``_cls`` is a struct<_cd,_cp> —
    the minimum (doc, pos) holding this window's text — equal across
    rows iff the windows' token sequences are equal. Prefix doubling
    seeded at length g0 = the largest power of two <= min(L,
    ``initial_gram``): the seed round groups directly on the raw
    g0-token text, which folds the first log2(g0) doubling rounds into
    one exchange; every later round moves only 12-byte (doc,pos) class
    structs. The default g0=8 (~50-byte seed keys) collapses the
    ENTIRE cascade to the seed exchange for L <= 8 and saves one full
    doubling round at any larger L — measured r14 A/B on the same
    host, quiet min-of-3 at sf0.1: the four suffix entries read
    9.06 s at g0=8 vs 11.82 s at g0=4 (-13% to -31% per entry); the
    doubled key bytes cost less than a (shift-join + groupBy-min +
    join-back) round at every L tested. Each round is (shift-join,
    groupBy-min, join-back) — two keyed exchanges plus the reused key
    exchange — and lineage is cut with lazy localCheckpoints at every
    self-join (house style of the iterative graph tier) so deep L
    never re-derives the whole cascade."""
    L = int(span_tokens)
    if L < 1:
        raise ValueError(f"span_tokens must be >= 1, got {span_tokens}")
    g0 = 1
    while g0 * 2 <= min(L, int(initial_gram)):
        g0 *= 2
    rep = F.struct(F.col(id_col).alias("_cd"), F.col("_pos").alias("_cp"))
    # seed: per-position g0-gram text (truncated at the doc tail — a
    # short tail gram is its whole suffix and can never equal a full
    # one, preserving the terminator semantics of the doubling rounds)
    grams = F.when(
        F.size("_tk") > 0,
        F.transform(
            F.sequence(F.lit(0), F.size("_tk") - 1),
            lambda i: F.concat_ws(" ", F.slice(F.col("_tk"), i + 1, g0)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    pos = base.select(
        F.col(id_col),
        F.size("_tk").alias("_n"),
        F.posexplode(grams).alias("_pos", "_tok"),
    )
    tok_cls = pos.groupBy("_tok").agg(F.min(rep).alias("_cls"))
    cur = pos.join(tok_cls, on="_tok").select(
        id_col, "_n", "_pos", "_cls"
    )

    def _combine(cur: DataFrame, shift: int) -> DataFrame:
        """Classes of prefix length (k + shift) from classes of length
        >= max(k, shift) — key = (cls(i), cls(i+shift)); a missing
        mate (suffix ends inside the window) stays null, which joins
        equal only to other end-truncated suffixes of the same head.

        Both the shift join and the name join-back are SELF-joins, so
        each round pins its inputs with a lazy localCheckpoint (the
        iterative graph tier's idiom): without the lineage cut the
        left and right branches re-derive the entire upstream cascade
        independently — exponential recompute in the round count
        (measured: zero ReusedExchange across a 32-exchange plan at
        L=8 before the cut)."""
        cur = tracked_checkpoint(cur, track)
        mate = cur.select(
            F.col(id_col),
            (F.col("_pos") - F.lit(shift)).alias("_pos"),
            F.col("_cls").alias("_cls2"),
        )
        joined = cur.join(mate, on=[id_col, "_pos"], how="left").select(
            id_col,
            "_n",
            "_pos",
            F.struct(F.col("_cls").alias("a"), F.col("_cls2").alias("b")).alias(
                "_key"
            ),
        )
        joined = tracked_checkpoint(joined, track)
        named = joined.groupBy("_key").agg(F.min(rep).alias("_cls"))
        return joined.join(named, on="_key").select(
            id_col, "_n", "_pos", "_cls"
        )

    k = g0
    while k * 2 <= L:
        cur = _combine(cur, k)
        k *= 2
    if k < L:
        # overlapped final step: windows i..i+L share text iff their
        # length-k prefixes at i and at i+L-k both agree
        cur = _combine(cur, L - k)
    # the caller's removal/report tail reads the class relation twice
    # (count election + join) — pin it once here
    return tracked_checkpoint(
        cur.filter(F.col("_pos") + F.lit(L) <= F.col("_n")).select(
            id_col, "_pos", "_cls"
        ),
        track,
    )


def exact_substr_dedup(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    span_tokens: int = 8,
    min_occurrences: int = 2,
    initial_gram: int = 8,
    track: "list | None" = None,
) -> DataFrame:
    """ExactSubstr dedup with true suffix ordering: byte-for-byte the
    :func:`remove_repeated_spans` contract — every length-L window
    whose text occurs >= ``min_occurrences`` times corpus-wide is
    removed from all but its minimum (doc, pos) occurrence and
    documents are rebuilt — but window equality comes from the exact
    prefix-doubling classes, not md5. Returns
    (id, clean_text, n_tokens, n_removed)."""
    base = _tokenized(docs, id_col, text_col)
    occ = suffix_window_classes(
        base, id_col, span_tokens, initial_gram=initial_gram, track=track
    )
    return rebuild_without_repeated_windows(
        base, occ, id_col, span_tokens, min_occurrences, window_key="_cls"
    )


def exact_decontaminate(
    train: DataFrame,
    train_id: str,
    train_text: str,
    probes: DataFrame,
    probe_id: str,
    probe_text: str,
    span_tokens: int = 8,
    initial_gram: int = 8,
    track: "list | None" = None,
) -> DataFrame:
    """Surgical benchmark decontamination (Lee et al. 2022 §6.3 — the
    exact-substring scrub GPT-3-style pipelines apply before
    training): every length-``span_tokens`` train window whose token
    sequence occurs ANYWHERE in the probe (benchmark) corpus is
    removed from the train document — every occurrence, no canonical
    exception — and the documents are rebuilt. The complement of
    ``contamination_check`` (operators/decontamination.py), which only
    counts shared shingles: this one performs the removal, and
    exactly.

    Topology: the suffix equality classes are computed ONCE over the
    side-tagged union (the probe side rides the same doubling cascade
    — benchmark corpora are tiny next to train, so the union costs
    what train alone costs); the contaminated-class relation is
    benchmark-sized and BROADCASTs into the cover join; removal is the
    keyed (doc) rebuild. Train and probe id columns must be
    union-compatible types. Returns (train_id, clean_text, n_tokens,
    n_removed)."""
    uid = lambda side, c: F.struct(  # noqa: E731 — two-site literal
        F.lit(side).alias("s"), F.col(c).alias("i")
    )
    base = train.select(
        uid(0, train_id).alias("_uid"), tokens(F.col(train_text)).alias("_tk")
    ).unionByName(
        probes.select(
            uid(1, probe_id).alias("_uid"),
            tokens(F.col(probe_text)).alias("_tk"),
        )
    )
    occ = suffix_window_classes(
        base, "_uid", span_tokens, initial_gram=initial_gram, track=track
    )
    dirty = (
        occ.filter(F.col("_uid.s") == 1).select("_cls").distinct()
    )
    L = int(span_tokens)
    covered = (
        occ.filter(F.col("_uid.s") == 0)
        .join(F.broadcast(dirty), on="_cls")
        .select(
            F.col("_uid.i").alias(train_id),
            F.explode(
                F.sequence(F.col("_pos"), F.col("_pos") + F.lit(L - 1))
            ).alias("_cp"),
        )
    )
    tbase = train.select(
        F.col(train_id), tokens(F.col(train_text)).alias("_tk")
    )
    return rebuild_without_positions(tbase, covered, train_id)


def exact_substr_spans(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    span_tokens: int = 8,
    min_occurrences: int = 2,
    initial_gram: int = 8,
    track: "list | None" = None,
) -> DataFrame:
    """Maximal repeated spans — the paper's reporting view. Every
    position inside ANY window repeated >= ``min_occurrences`` times
    (canonical occurrence included: a repeated span exists at every
    site) is covered; runs of covered positions merge into maximal
    intervals per document via the islands idiom (pos - row_number is
    constant on a run), so arbitrary-length repeated regions come out
    as ONE row each — no fixed-window truncation in the output.
    Returns (id, span_start, span_end, span_len); every span_len >=
    span_tokens by construction. Islands window partitions by doc —
    per-document work, no global ordering."""
    from pyspark.sql import Window

    L = int(span_tokens)
    base = _tokenized(docs, id_col, text_col)
    occ = suffix_window_classes(
        base, id_col, L, initial_gram=initial_gram, track=track
    )
    rep = (
        occ.groupBy("_cls")
        .agg(F.count(F.lit(1)).alias("_c"))
        .filter(F.col("_c") >= min_occurrences)
        .select("_cls")
    )
    covered = (
        occ.join(rep, on="_cls")
        .select(
            F.col(id_col),
            F.explode(
                F.sequence(F.col("_pos"), F.col("_pos") + F.lit(L - 1))
            ).alias("_cp"),
        )
        .distinct()
    )
    w = Window.partitionBy(id_col).orderBy("_cp")
    return (
        covered.withColumn("_grp", F.col("_cp") - F.row_number().over(w))
        .groupBy(id_col, "_grp")
        .agg(
            F.min("_cp").cast("int").alias("span_start"),
            F.max("_cp").cast("int").alias("span_end"),
            F.count(F.lit(1)).cast("int").alias("span_len"),
        )
        .drop("_grp")
    )


def incremental_exact_substr(
    batch: DataFrame,
    id_col: str,
    text_col: str,
    state: "DataFrame | None",
    span_tokens: int = 8,
    min_occurrences: int = 2,
    track: "list | None" = None,
) -> "tuple[DataFrame, DataFrame]":
    """ExactSubstr span dedup of a NEW ingest batch against the
    already-accepted corpus — the suffix family's incremental story
    (exact/MinHash dedup have ``operators/incremental.py``;
    decontamination has the ``state_location`` composition). A window
    in a new document is removed when its token sequence occurs >=
    ``min_occurrences`` times within (accepted corpus ∪ batch),
    keep-first: the canonical occurrence is the FIRST one ever
    ingested — if the window was ever seen by an earlier batch
    (state count >= 1) every batch occurrence is removed; windows new
    to this batch keep their minimum (doc, pos) occurrence, exactly
    the intra-batch contract of :func:`exact_substr_dedup`.

    ``state`` is the ADDITIVE window-count artifact: (gh, cnt) rows —
    md5 window fingerprints with per-batch occurrence counts, md5
    because suffix equality classes are corpus-relative and cannot
    outlive a run (:func:`probe_gram_artifact` has the same
    constraint); the md5 and suffix-class formulations are
    equality-pinned absent a collision. Multiple rows per gh are
    expected (one per contributing batch — counts FOLD by sum), and
    the fold runs AFTER a semi-join down to the batch's own window
    set, so only state rows the batch can touch are ever aggregated:
    the accepted lake's text is never read, never tokenized, never
    re-cascaded — the batch pays batch-sized cost regardless of lake
    size. At 100 TB, bucket the artifact by gh at write time and the
    probe join reads the corpus side exchange-free (the
    ``materialize_dedup_artifacts`` refinement).

    Returns ``(clean, batch_counts)``: the scrubbed batch in the
    family's (id, clean_text, n_tokens, n_removed) contract, and this
    batch's ORIGINAL per-window counts (gh, cnt) — pre-removal, so
    folding them into the artifact reproduces from-scratch counts.
    Union-of-batch-outputs == from-scratch :func:`exact_substr_dedup`
    at ``min_occurrences=2`` (the Lee et al. setting) whenever batch
    order agrees with (doc, pos) order — the ingest convention of
    monotone ids; pinned in tests. For thresholds > 2 the contract is
    forward-only: occurrences an earlier batch accepted below the
    threshold are never retroactively removed (the accepted-corpus
    convention of ``operators/incremental.py``)."""
    L = int(span_tokens)
    occ = md5_window_occ(batch, id_col, text_col, L)
    pack = F.struct(
        F.col(id_col).alias("_wid"), F.col("_pos").alias("_wpos")
    )
    # Three consumers read this batch-sized relation (the artifact
    # contribution, the state semi-probe, the removal election) — pin
    # it once, house style of the cascade's self-joins.
    agg = tracked_checkpoint(
        occ.groupBy("gh").agg(
            F.count(F.lit(1)).alias("_c"), F.min(pack).alias("_win")
        ),
        track,
    )
    batch_counts = agg.select("gh", F.col("_c").cast("long").alias("cnt"))
    if state is not None:
        stc = (
            state.select("gh", "cnt")
            .join(agg.select("gh"), on="gh", how="leftsemi")
            .groupBy("gh")
            .agg(F.sum("cnt").alias("_s"))
        )
        scored = agg.join(stc, on="gh", how="left").withColumn(
            "_s", F.coalesce(F.col("_s"), F.lit(0))
        )
    else:
        scored = agg.withColumn("_s", F.lit(0))
    rep = scored.filter(
        F.col("_c") + F.col("_s") >= int(min_occurrences)
    ).select("gh", "_win", "_s")
    covered = (
        occ.join(rep, on="gh")
        # seen-before windows lose EVERY batch occurrence (the
        # canonical one was kept by the batch that first saw it);
        # batch-new windows keep their minimum (doc, pos)
        .filter((F.col("_s") > 0) | (pack != F.col("_win")))
        .select(
            F.col(id_col),
            F.explode(
                F.sequence(F.col("_pos"), F.col("_pos") + F.lit(L - 1))
            ).alias("_cp"),
        )
    )
    clean = rebuild_without_positions(
        _tokenized(batch, id_col, text_col), covered, id_col
    )
    return clean, batch_counts


def _same_table(a: str, b: str) -> bool:
    """Table-name equality tolerant of catalog/database qualification:
    ``wc_fold`` and ``default.wc_fold`` (or ``spark_catalog.default.
    wc_fold``) name the same relation when one is an unqualified
    suffix of the other — an exact string compare would falsely refuse
    a probe configured with the qualified form of the name the fold
    was run with."""
    a, b = a.lower(), b.lower()
    return a == b or a.endswith("." + b) or b.endswith("." + a)


def materialize_window_count_table(
    spark,
    state_loc: str,
    table: str,
    num_buckets: int = 32,
    up_to_tag: "str | None" = None,
) -> None:
    """Fold a tag-dir window-count state into a metastore table
    BUCKETED (and sorted) on ``gh`` — the 100 TB deployment shape for
    :func:`incremental_exact_substr`'s state side. The nightly probe
    is an equi-join on gh between the batch's window set and the
    lake-sized count relation; against the parquet tag dirs that join
    exchanges the WHOLE state every night (16-byte keys, but O(lake
    windows) rows). Bucketing the folded relation at maintenance time
    makes the state side exchange-free: only the batch side shuffles,
    into the bucket layout — the ``materialize_dedup_artifacts``
    ``bands_table`` refinement, applied to this family (pinned in
    tests/test_plans.py). Counts are pre-folded (one row per gh), so
    the nightly fold also shrinks to a no-op aggregate over
    already-unique keys.

    Run it over COMPLETED tags — tags that will never be replayed: a
    re-run of a folded batch cannot exclude its own counts from the
    pre-summed table (the probe path refuses it loudly). With nightly
    date tags, ``up_to_tag`` is how 'completed' is configured: only
    tags <= the cutoff (string order — dates sort) fold, so the weekly
    job can leave the replay-eligible recent nights as plain dirs
    instead of taking the probe path down on the next backfill. Recent
    tag dirs not yet folded stay readable the normal way — the
    ``state_table`` probe source unions ``spark.table(table)`` with
    exactly those dirs, using the ``_folded_tags.json`` sidecar this
    fold writes next to the state to know which dirs the table already
    covers (double reading a folded dir would inflate counts and
    over-scrub at thresholds > 2). The table is a FOLD of the state,
    not a replacement: the tag dirs remain the source of truth for
    retry exclusion.

    Fold commit protocol (every crash window detectable): saveAsTable
    overwrite recreates the table WITHOUT the ``m3d.fold_id``
    property, the ALTER then stamps the property, and the sidecar —
    carrying the same fold id plus per-tag CONTENT signatures
    (:func:`_tag_dir_signatures`) — commits last, via temp-write +
    rename so a crash mid-write can never leave a half-truncated
    JSON behind. The probe refuses a missing property, a sidecar/
    property mismatch, and a folded dir whose signature drifted (a
    replay or compaction rewrote it after the fold — the table's
    pre-summed counts for it are stale), so every inconsistent shape
    reads as 're-run fold_state', never as silently double-, under-,
    or stale-counted state."""
    dirs, tags, tag_sigs = _select_fold_dirs(spark, state_loc, up_to_tag)
    folded = (
        spark.read.parquet(*dirs)
        .groupBy("gh")
        .agg(F.sum("cnt").alias("cnt"))
    )
    from m3d_engine_spark.sources.bucketing import write_bucketed_table

    write_bucketed_table(
        folded, table, ["gh"], num_buckets=num_buckets, sort_cols=["gh"]
    )
    _commit_fold(
        spark, state_loc, table, tags, tag_sigs, "window_count_fold"
    )


def materialize_scrubbed_ids_table(
    spark,
    state_loc: str,
    table: str,
    id_col: str = "doc_id",
    num_buckets: int = 32,
    up_to_tag: "str | None" = None,
) -> None:
    """The scrubbed-ids sibling of :func:`materialize_window_count_table`
    — the 100 TB deployment shape for the Decontaminate incremental
    state. The nightly scrub anti-joins the batch against EVERY id the
    lake ever accepted (one row per accepted doc — at lake scale the
    id relation itself is lake-sized and exchanges every night).
    Folding the TAGGED id state into a table bucketed (and sorted) on
    the id column makes the anti-join's state side exchange-free, and
    the not-yet-folded tag dirs — recent-batch-sized — chain as a
    second, broadcastable anti-join (``train ANTI (A ∪ B)`` ==
    ``(train ANTI A) ANTI B``, the rewrite the CLI applies; a plain
    union of table + dirs would destroy the bucketed distribution).
    Same ``_folded_tags.json`` commit protocol, sidecar kind
    ``scrubbed_ids_fold``; same ``up_to_tag`` 'completed tags'
    cutoff; same drift refusals at probe time. Tagged layout only —
    the flat append state has no per-batch dirs to sign, and its
    deployments are the never-replay orchestrators that should
    migrate to tags before scaling anyway."""
    dirs, tags, tag_sigs = _select_fold_dirs(spark, state_loc, up_to_tag)
    folded = spark.read.parquet(*dirs).select(id_col).distinct()
    from m3d_engine_spark.sources.bucketing import write_bucketed_table

    write_bucketed_table(
        folded, table, [id_col], num_buckets=num_buckets,
        sort_cols=[id_col],
    )
    _commit_fold(
        spark, state_loc, table, tags, tag_sigs, "scrubbed_ids_fold"
    )


def _select_fold_dirs(spark, state_loc: str, up_to_tag: "str | None"):
    """The fold's input half, shared by both fold flavors: committed
    tag dirs only (own_tag=None = fold everything — root partition
    discovery would adopt crashed-compaction swap dirs as tag VALUES
    and double-count their rows), the ``up_to_tag`` completed-tags
    cutoff, and per-tag content signatures from the SAME listing,
    captured BEFORE the fold scan: a dir rewritten mid-fold then reads
    as drifted at probe time (fail-closed) — recording post-scan
    signatures would bless post-rewrite layouts against pre-rewrite
    contents, the exact corruption the signatures exist to catch."""
    dirs, all_sigs = committed_tag_dirs(
        spark, state_loc, None, with_signatures=True
    )
    if not dirs:
        raise ValueError(
            f"no committed batch_tag dirs under {state_loc} — nothing "
            "to fold"
        )
    if up_to_tag is not None:
        dirs = [
            d for d in dirs
            if d.rsplit("/", 1)[1].split("=", 1)[1] <= str(up_to_tag)
        ]
        if not dirs:
            raise ValueError(
                f"up_to_tag={up_to_tag!r} excludes every committed "
                f"batch_tag dir under {state_loc} — nothing to fold"
            )
    tags = sorted(d.rsplit("/", 1)[1] for d in dirs)
    return dirs, tags, {t: all_sigs[t] for t in tags}


def _commit_fold(
    spark, state_loc: str, table: str, tags: list, tag_sigs: dict,
    kind: str,
) -> None:
    """The fold's commit half, shared by both fold flavors: fold-id
    from the signature map, the ``m3d.fold_id`` table property, and
    the sidecar — temp-write + rename so a crash mid-write can never
    leave a half-truncated JSON, with earlier crashed folds' tmp
    litter swept (nothing else ever reclaims it). Rename-over is not
    atomic on HDFS semantics (dst must not exist), so
    delete-then-rename — the worst crash leaves NO sidecar, which
    probes as 'run fold_state first'. Hadoop signals failure by
    RETURNING false, not raising: an unchecked failed rename would
    report the fold green while leaving no sidecar behind."""
    import hashlib
    import json as _json

    from m3d_engine_spark.sources.dfs import DFS

    fold_id = hashlib.md5(
        _json.dumps(tag_sigs, sort_keys=True).encode()
    ).hexdigest()
    spark.sql(
        f"ALTER TABLE {table} SET TBLPROPERTIES "
        f"('m3d.fold_id' = '{fold_id}', "
        f"'m3d.kind' = '{kind}')"
    )
    dfs = DFS(spark)
    sidecar = state_loc.rstrip("/") + "/_folded_tags.json"
    for entry in dfs.list_entries(state_loc.rstrip("/")):
        if entry.startswith("_folded_tags.json.__tmp_"):
            dfs.delete(f"{state_loc.rstrip('/')}/{entry}")
    tmp = sidecar + f".__tmp_{fold_id[:8]}"
    dfs.write_text(
        tmp,
        _json.dumps(
            {
                "kind": kind,
                "table": table,
                "fold_id": fold_id,
                "tags": tags,
                "tag_sigs": tag_sigs,
            }
        ),
    )
    dfs.delete(sidecar)
    if not dfs.rename(tmp, sidecar):
        raise IOError(
            f"renaming {tmp} over {sidecar} failed — the fold's table "
            "is committed but its sidecar is not; re-run fold_state "
            "(probes refuse with 'run fold_state first' until then)"
        )


def read_fold_sidecar(
    spark, state_loc: str, table: str,
    kind: str = "window_count_fold",
) -> dict:
    """The ``state_table`` probe source's adoption contract: return
    the parsed ``_folded_tags.json`` sidecar
    :func:`materialize_window_count_table` committed (``tags`` — the
    ``batch_tag=<tag>`` dir names the table folds — plus their
    content signatures). Refuses — with the remediation spelled out —
    every inconsistent shape: a missing or unparseable sidecar (no
    fold ever ran, the state dir is wrong, or a crash corrupted it), a
    sidecar naming a DIFFERENT table (two states / two folds crossed
    in config; qualified vs unqualified spellings of the same name are
    accepted), a dropped/missing table, and a fold-id mismatch between
    sidecar and table property (a fold died between its table write
    and its sidecar commit, or the table was refolded out-of-band) —
    probing through any of these would double- or under-count windows
    silently."""
    import json as _json

    from m3d_engine_spark.config import ConfigError
    from m3d_engine_spark.sources.dfs import DFS

    path = state_loc.rstrip("/") + "/_folded_tags.json"
    dfs = DFS(spark)
    if not dfs.exists(path):
        fold_cli = (
            "Decontaminate"
            if kind == "scrubbed_ids_fold"
            else "ExactSubstrDedup"
        )
        raise ConfigError(
            f"state_table is set but {path} does not exist — no "
            f"fold_state run has committed over this state; run "
            f"{fold_cli} action='fold_state' first, or drop "
            "state_table to probe the tag dirs directly"
        )
    try:
        meta = _json.loads(dfs.read_text(path))
    except ValueError as exc:  # JSONDecodeError subclasses ValueError
        raise ConfigError(
            f"{path} is not parseable JSON ({exc}) — the sidecar is "
            "corrupt; re-run fold_state to rewrite it"
        ) from exc
    if meta.get("kind") != kind:
        raise ConfigError(
            f"{path} records a {meta.get('kind')!r} fold, but this "
            f"probe expects {kind!r} — the state_location points at a "
            "different state family's dir (window counts vs scrubbed "
            "ids); fix the config"
        )
    if not _same_table(str(meta.get("table")), table):
        raise ConfigError(
            f"{path} records a fold into table "
            f"{meta.get('table')!r}, not the configured state_table "
            f"{table!r} — the state dir and the table don't belong to "
            "the same fold"
        )
    try:
        props = {
            r["key"]: r["value"]
            for r in spark.sql(
                f"SHOW TBLPROPERTIES {table}"
            ).collect()
        }
    except Exception as exc:
        raise ConfigError(
            f"state_table {table} is not readable ({exc}): the table "
            "the sidecar points at is missing or dropped — re-run "
            "fold_state to rebuild it, or drop state_table to probe "
            "the tag dirs directly"
        ) from exc
    if props.get("m3d.fold_id") != meta.get("fold_id"):
        raise ConfigError(
            f"fold_id mismatch between {path} "
            f"({meta.get('fold_id')!r}) and table {table} "
            f"({props.get('m3d.fold_id')!r}): a fold_state run died "
            "between its table write and its sidecar commit, or the "
            "table was rewritten out-of-band — re-run fold_state "
            "before probing through the table"
        )
    return meta


def window_count_state(
    spark,
    state_loc: str,
    own_tag: "str | None",
    state_table: "str | None" = None,
) -> "DataFrame | None":
    """Resolve the state relation :func:`incremental_exact_substr`
    probes — the ONE implementation behind the CLI's incremental mode
    and the streaming nightly's span step. Without ``state_table``:
    the committed non-own tag dirs, read as plain leaf paths (None
    when there are none — the first-ever batch). With ``state_table``
    (the 100 TB shape): the gh-bucketed fold UNIONed with exactly the
    tag dirs the fold does NOT cover yet (per the ``_folded_tags.json``
    sidecar, validated against the table's fold-id property) — reading
    a folded dir AGAIN would inflate its counts and over-scrub at
    thresholds > 2. Catalyst pushes the probe's LeftSemi below the
    union, so the bucketed side reaches its join exchange-free while
    the unfolded side stays recent-batch-sized (plan-pinned).

    A batch whose OWN tag is already folded is refused: its counts sit
    pre-summed inside the table where the own-tag exclusion cannot
    reach them, and a replay would see its own windows and over-scrub
    — the reason ``materialize_window_count_table`` takes
    ``up_to_tag`` ('fold COMPLETED tags only'). A folded dir whose
    CONTENT signature drifted since the fold (a replay or compaction
    rewrote it — the table's pre-summed counts for it are stale) is
    refused too: the probe would otherwise silently admit duplicates
    the replay added and over-scrub against windows it removed, until
    the next fold happened to run."""
    if state_table is None:
        dirs = committed_tag_dirs(spark, state_loc, own_tag)
        return (
            spark.read.parquet(*dirs).select("gh", "cnt")
            if dirs
            else None
        )
    unfolded = fold_probe_unfolded(
        spark, state_loc, own_tag, state_table, "window_count_fold"
    )
    state = spark.table(state_table).select("gh", "cnt")
    if unfolded:
        state = state.unionByName(
            spark.read.parquet(*unfolded).select("gh", "cnt")
        )
    return state


def fold_probe_unfolded(
    spark,
    state_loc: str,
    own_tag: "str | None",
    state_table: str,
    kind: str,
) -> list:
    """The probe-side validation half both fold flavors share: read +
    validate the sidecar (:func:`read_fold_sidecar` — missing/corrupt/
    crossed/kind-mismatched sidecars, dropped tables, fold-id drift),
    refuse a batch whose OWN tag is already folded (its contribution
    sits pre-aggregated inside the table where the own-tag exclusion
    cannot reach it — a replay would see its own windows/ids), refuse
    folded dirs whose content signatures drifted (rewritten OR deleted
    since the fold: the table serves stale pre-aggregated state while
    the dirs — the declared source of truth — say otherwise), and
    return the committed non-own tag dirs the table does NOT cover.
    ONE recursive listing serves both the dir classification and the
    drift signatures — the probe runs nightly (and per micro-batch on
    the streaming twin), where a second listing of a year of tags is
    exactly the object-store RPC storm committed_tag_dirs exists to
    avoid."""
    from m3d_engine_spark.config import ConfigError

    dirs, now_sigs = committed_tag_dirs(
        spark, state_loc, own_tag, with_signatures=True
    )
    meta = read_fold_sidecar(spark, state_loc, state_table, kind)
    folded = set(meta.get("tags", []))
    if own_tag is not None and f"batch_tag={own_tag}" in folded:
        raise ConfigError(
            f"batch_tag={own_tag} is already folded into "
            f"{state_table}: its contribution cannot be excluded from "
            "the pre-aggregated table, so re-running this batch "
            "through state_table would see its own prior state and "
            "corrupt the output. Fold only COMPLETED tags "
            "(fold_up_to), or re-run this batch without state_table"
        )
    if "tag_sigs" not in meta:
        raise ConfigError(
            f"the fold sidecar under {state_loc} predates per-tag "
            "content signatures, so drift of folded dirs cannot be "
            "verified — re-run fold_state once to rewrite it"
        )
    fold_sigs = meta["tag_sigs"]
    # != over .get on BOTH sides: a folded dir DELETED since the fold
    # (now_sigs missing) is the same staleness class as a rewrite —
    # the table still serves its pre-aggregated state while the dirs
    # (the declared source of truth) no longer hold it
    drifted = sorted(
        t for t in folded if fold_sigs.get(t) != now_sigs.get(t)
    )
    if drifted:
        raise ConfigError(
            f"folded tag dir(s) {drifted} under {state_loc} were "
            "rewritten or deleted AFTER the fold into "
            f"{state_table} (their content signatures no longer match "
            "the fold sidecar's — replay, compaction, or retention "
            "sweep): the table's pre-aggregated state for them is "
            "stale. Re-run fold_state before probing through the "
            "table"
        )
    return [d for d in dirs if d.rsplit("/", 1)[1] not in folded]


def probe_gram_artifact(
    probes: DataFrame, text_col: str, span_tokens: int = 8
) -> DataFrame:
    """The shareable decontamination artifact: DISTINCT md5 hashes of
    every ``span_tokens``-token window of the benchmark corpus — one
    16-byte-key column ``gh``, at most |benchmark tokens| rows.
    Materialize it ONCE per benchmark release and scrub any number of
    corpora against the artifact without re-reading (or even having
    access to) the benchmark text — the decontamination sibling of the
    dedup tier's band artifacts (operators/incremental.py). The
    artifact path is hash-based by necessity (suffix equality classes
    are corpus-relative and cannot outlive the run); the exact
    suffix path and this one are equality-pinned on collision-free
    corpora."""
    return (
        md5_window_occ(probes, None, text_col, span_tokens)
        .select("gh")
        .distinct()
    )


def decontaminate_with_artifact(
    train: DataFrame,
    train_id: str,
    train_text: str,
    artifact: DataFrame,
    span_tokens: int = 8,
) -> DataFrame:
    """Scrub ``train`` against a materialized :func:`probe_gram_artifact`
    relation (column ``gh``): train windows fingerprint with the same
    md5 projection, the benchmark-sized artifact BROADCASTS into the
    cover join, and the shared rebuild tail emits the standard
    (id, clean_text, n_tokens, n_removed) contract. One corpus scan +
    one broadcast probe — no benchmark text, no doubling cascade."""
    L = int(span_tokens)
    occ = md5_window_occ(train, train_id, train_text, span_tokens)
    covered = occ.join(F.broadcast(artifact.select("gh")), on="gh").select(
        F.col(train_id),
        F.explode(
            F.sequence(F.col("_pos"), F.col("_pos") + F.lit(L - 1))
        ).alias("_cp"),
    )
    return rebuild_without_positions(
        _tokenized(train, train_id, train_text), covered, train_id
    )


def resolve_artifact_span_tokens(
    spark, artifact_location: str, explicit: "int | None" = None
) -> int:
    """The ``_meta.json`` sidecar adoption contract, shared by the
    batch Algorithm and the streaming scrub. span_tokens is BAKED INTO
    the artifact's hashes: a scrub run with a different L matches
    nothing and emits the corpus unscrubbed with n_removed=0 — the
    silent no-op every branch here exists to prevent. Sidecar present:
    adopt its value; an explicitly passed CONFLICTING value raises.
    Sidecar missing (hand-built artifact, or the sidecar was lost):
    require the explicit value, and log loudly that it is trusted."""
    import json as _json

    from m3d_engine_spark.config import ConfigError
    from m3d_engine_spark.sources.dfs import DFS

    if isinstance(explicit, bool):
        # the {"span_tokens": true} coercion guard the CLI path gets
        # from _span_tokens_param, replicated for direct callers
        # (streaming wiring): True would int() to 1 and scrub every
        # token shared with the benchmark VOCABULARY
        raise ConfigError(
            f"span_tokens must be an integer >= 1, got the boolean "
            f"{explicit!r}"
        )
    meta_path = artifact_location.rstrip("/") + "/_meta.json"
    dfs_fs = DFS(spark)
    if dfs_fs.exists(meta_path):
        try:
            raw_L = _json.loads(dfs_fs.read_text(meta_path))["span_tokens"]
            if isinstance(raw_L, bool):
                # {"span_tokens": true} int()s to 1 — the same silent
                # L=1 vocabulary-wide scrub the explicit param is
                # guarded against; a sidecar value gets no less scrutiny
                raise ValueError(f"boolean {raw_L!r} is not a length")
            meta_L = int(raw_L)
            if meta_L < 1:
                raise ValueError(f"{meta_L} < 1")
        except (KeyError, ValueError, TypeError) as exc:
            # a truncated/hand-edited sidecar is a CONFIG problem and
            # must classify as one, with the remediation in the message
            raise ConfigError(
                f"{meta_path} exists but carries no usable span_tokens "
                f"({exc!r}); restore the sidecar or re-materialize the "
                "artifact"
            ) from exc
        if explicit is not None and int(explicit) != meta_L:
            raise ConfigError(
                f"span_tokens={explicit} conflicts with the artifact's "
                f"baked-in value {meta_L} ({meta_path}); drop the "
                "param or re-materialize the artifact"
            )
        return meta_L
    if explicit is None:
        raise ConfigError(
            f"{meta_path} not found and no explicit span_tokens "
            "param: the artifact's window length is unknowable "
            "and a wrong guess scrubs NOTHING silently — pass "
            "span_tokens matching the artifact's build, or "
            "restore/re-materialize the sidecar"
        )
    import logging

    logging.getLogger(__name__).warning(
        "probe artifact has no _meta.json sidecar (%s); trusting "
        "explicit span_tokens=%d — a mismatch with the artifact's "
        "build value scrubs nothing",
        meta_path,
        int(explicit),
    )
    return int(explicit)


# --------------------------------------------------------------------------
# CLI algorithm: params-driven dispatch (the FuzzyDedup pattern)
# --------------------------------------------------------------------------


def _maybe_compact_state(spark, params, state_loc: str) -> None:
    """Opt-in small-files hygiene for the incremental state dirs
    (``compact_state_over_files: N``): every nightly run adds one
    small multi-file parquet contribution forever (a contribution
    write emits one file per shuffle partition), so a long-lived
    state eventually pays listing/task-launch overhead on thousands
    of tiny files. Any LEAF dir holding MORE than N committed data
    files is rewritten through the shared atomic compaction path
    (``sources/compaction.py`` — layout only: same rows, temp-write +
    dir-swap, a failure leaves the original intact). Runs strictly
    AFTER the state update — a compaction failure can never lose the
    batch just recorded.

    Per-LEAF-dir on purpose: a tagged state compacts each over-N
    ``batch_tag=`` dir independently — batch-sized rewrites that keep
    the tag dirs (and the own-tag retry exclusion) byte-identical
    with NO partition discovery, no type inference, no session-conf
    games, and never an O(whole-lake) rewrite; the flat scrubbed-ids
    state is itself one leaf. Futility guard: a dir already at (or
    under) its byte-planned file count is left alone even above N —
    otherwise a genuinely large contribution would be re-read and
    rewritten to the identical layout every night; planned from
    COMMITTED bytes only (on-disk totals would count crashed-write
    litter and could permanently mask a dir behind its own junk).

    The leaf rewrite swaps through AtomicWriter's
    ``<leaf>__tmp_*``/``<leaf>__bak_*`` siblings, which for a tag dir
    live INSIDE the state root — so this function first RECOVERS any
    swap litter a crashed compaction left (restore the backup when
    its base is gone, drop stale swaps otherwise); the read path
    refuses to run past an unrecovered backup rather than silently
    losing the batch it holds (``committed_tag_dirs``)."""
    if not params.has("compact_state_over_files"):
        return
    n = params.get_optional_int("compact_state_over_files", 1, minimum=1)
    from m3d_engine_spark.sources.compaction import (
        compact_table,
        plan_file_count,
    )
    from m3d_engine_spark.sources.dfs import DFS

    dfs = DFS(spark)
    base = state_loc.rstrip("/")
    _recover_swap_litter(dfs, base)
    per_dir: dict = {}
    for rel, size in dfs.committed_files(base):
        parent = rel.rsplit("/", 1)[0] if "/" in rel else ""
        cnt, byts = per_dir.get(parent, (0, 0))
        per_dir[parent] = (cnt + 1, byts + size)
    for parent, (count, byts) in per_dir.items():
        if count <= n:
            continue
        if count <= plan_file_count(byts, 128 * 1024 * 1024):
            continue  # already at its planned layout — rewrite is futile
        compact_table(spark, f"{base}/{parent}" if parent else base)


def _recover_swap_litter(dfs, state_root: str) -> None:
    """Complete any compaction swap a crash interrupted. A compaction
    rewrites a dir with AtomicWriter's ``OverwriteTable``, which commits
    the whole dir as one unit of its single protocol: temp write →
    base→backup rename → tmp→base rename → delete backup (the temp dir
    is also deleted on every exit the process survives). A hard kill
    can leave (a) a ``__tmp_*`` sibling (uncommitted rewrite — base
    intact: drop it), (b) a ``__bak_*`` sibling WITH its base present
    (the final delete failed — the base is authoritative: drop the
    backup), or (c) a ``__bak_*`` sibling with its base GONE (killed
    between the two renames — the backup IS the data: restore it; the
    layout-only rewrite in the tmp dir is expendable). The base is
    derived from the SWAP name (split on the marker), so an orphan
    backup whose base dir no longer exists is still found. Two scan
    scopes, both name-guarded so entries belonging to anything else are
    never touched:

    * INSIDE the state root — ``batch_tag=*`` leaf swaps (tagged
      states);
    * the root's PARENT — swaps of the root itself (flat states whose
      whole dir was compacted), matched exact-prefix on the root's own
      name: a sibling table's in-flight AtomicWriter swap must never
      be 'recovered' out from under it."""
    root = state_root.rstrip("/")

    def _recover(parent: str, entry: str) -> None:
        path = f"{parent}/{entry}"
        if "__tmp_" in entry:
            dfs.delete(path)
            return
        orig = f"{parent}/{entry.split('__bak_', 1)[0]}"
        if dfs.exists(orig):
            dfs.delete(path)
        else:
            dfs.rename(path, orig)

    for entry in dfs.list_entries(root):
        if entry.startswith("batch_tag=") and (
            "__tmp_" in entry or "__bak_" in entry
        ):
            _recover(root, entry)
    parent, name = root.rsplit("/", 1)
    for entry in dfs.list_entries(parent):
        if entry.startswith((f"{name}__tmp_", f"{name}__bak_")):
            _recover(parent, entry)


def _recover_state_swaps_early(spark, params) -> None:
    """Run the compaction swap-litter recovery BEFORE any state read
    (called from ``prepare()`` when ``compact_state_over_files`` is
    set). Recovery used to run only inside :func:`_maybe_compact_state`
    — i.e. AFTER the state read and the state write — which left a
    data-destruction window on the FLAT layout: a compaction killed
    between AtomicWriter's two renames leaves the base dir GONE and the
    backup holding every recorded id, the next run's read path sees no
    committed file (``first_file``/``exists`` both miss the renamed-away
    base), silently treats the state as empty, re-scrubs and appends
    only the new batch's ids (recreating the base dir) — and THEN the
    write-time recovery sees base-present + backup-present and deletes
    the backup, permanently losing the prior state. Running the same
    recovery up front restores the backup before the read, so the run
    sees the full state (the write-time call stays — it is idempotent
    and still sweeps litter this very run's crash could leave)."""
    if params.has("compact_state_over_files") and params.has(
        "state_location"
    ):
        from m3d_engine_spark.sources.dfs import DFS

        _recover_swap_litter(
            DFS(spark), params.get_string("state_location").rstrip("/")
        )


def _require_state_for_compaction(params) -> None:
    """``compact_state_over_files`` parameterizes the state dirs'
    small-files hygiene — set without a state to compact (no
    ``state_location``, or a mode that never updates state) it used to
    be silently ignored, exactly the silent config-no-op class this
    surface rejects everywhere else (``fold_state`` rejects stray keys;
    ``batch_tag`` without ``state_location`` raises)."""
    if params.has("compact_state_over_files") and not params.has(
        "state_location"
    ):
        from m3d_engine_spark.config import ConfigError

        raise ConfigError(
            "compact_state_over_files compacts the incremental state's "
            "small files and does nothing without state_location — add "
            "the state dir or drop the key"
        )


def _orphan_flat_state_backup(dfs, state_root: str) -> "str | None":
    """The flat layout's missing-state guard: a flat state whose base
    dir is GONE but whose ``<root>__bak_*`` sibling survives is a
    compaction killed between AtomicWriter's two renames — the backup
    IS the state. Callers about to treat a missing flat state as empty
    must check this first (mirroring the tagged layout's orphan-backup
    guard in :func:`committed_tag_dirs`); returns the backup path, or
    None when the parent holds no such sibling. Exact-prefix-matched on
    the root's own name so a sibling table's in-flight swap is never
    misread as ours."""
    root = state_root.rstrip("/")
    parent, name = root.rsplit("/", 1)
    if not dfs.exists(parent):
        return None
    for entry in dfs.list_entries(parent):
        if entry.startswith(f"{name}__bak_"):
            return f"{parent}/{entry}"
    return None


def _validated_batch_tag(params) -> str:
    """The per-batch state tag, restricted to partition-dir-safe
    characters. The tag becomes a literal ``batch_tag=<tag>`` dir name
    and the own-tag retry exclusion compares dir NAMES byte-for-byte —
    characters Hive escapes on write (``%``, ``/``, ``:`` …) or that
    read back differently would silently break that exclusion, and a
    broken exclusion makes a retry of a recorded batch see its own
    counts and over-scrub (every occurrence removed, canonical
    included) before OVERWRITING the good output."""
    import re

    from m3d_engine_spark.config import ConfigError

    tag = str(params.get_string("batch_tag"))
    if (
        not re.fullmatch(r"[A-Za-z0-9._-]+", tag)
        or tag.startswith((".", "_"))
        or "__tmp_" in tag
        or "__bak_" in tag
    ):
        raise ConfigError(
            f"batch_tag {tag!r} must consist of [A-Za-z0-9._-], not "
            "start with '.'/'_', and not contain '__tmp_'/'__bak_' "
            "(reserved by the atomic compaction swap): the tag names a "
            "partition directory and the retry exclusion compares "
            "those names byte-exactly — characters the filesystem "
            "layer escapes would break it (use the nightly date, e.g. "
            "2026-08-16)"
        )
    return tag


def committed_tag_dirs(
    spark,
    state_loc: str,
    own_tag: "str | None",
    with_signatures: bool = False,
) -> "list | tuple[list, dict]":
    """First-level ``batch_tag=<tag>`` dirs of a tagged state holding
    at least one COMMITTED data file, excluding the batch's OWN tag
    (pass ``own_tag=None`` for all of them — the maintenance-fold
    case). Dir-NAME comparison against the same f-string the writer
    builds — never partition-column discovery, whose type inference
    re-types numeric-looking tags ('01' reads back as 1) and unescapes
    %XX sequences, silently defeating the own-tag retry exclusion. A
    tag dir with no committed file is a crashed state write: skipped
    (its batch was never recorded — the truthful reading), and a retry
    overwrites it. A transient error listing/reading a COMMITTED dir
    is NOT swallowed anywhere downstream — the batch must fail and
    retry, not silently scrub against partial state. One recursive
    listing regardless of tag count (a year of nightly tags must not
    cost 365 sequential FS probes on an object store); with
    ``with_signatures=True`` the SAME listing additionally yields
    ``{dir_name: content signature}`` over every committed tag dir
    (own tag included) and the return becomes ``(paths, sigs)`` — the
    fold/probe drift detector, never a second racy pass. Shared by
    the batch CLIs and the streaming span-dedup step.

    Three non-tag shapes are classified, not lumped together:

    * committed files at the state ROOT — a legacy flat append state
      mixed with the tagged layout (the shape produced by adding
      ``batch_tag`` to an existing flat deployment): raises, because
      silently ignoring them would forget every id they record;
      migrate them into a ``batch_tag=<legacy>`` dir or drop the tag.
    * ``*__tmp_*``/``*__bak_*`` dirs — the atomic compaction's swap
      siblings: a ``__tmp_`` (or a ``__bak_`` whose base tag dir
      still exists) is stale litter and is SKIPPED (the base is
      authoritative; ``_maybe_compact_state`` sweeps them); a
      ``__bak_`` whose base is GONE means a compaction died between
      its two renames and the backup IS that batch's only data —
      raises with the recovery instruction rather than silently
      losing the batch.
    * anything else (an operator-parked unrelated subdir): ignored,
      as the pre-guard reader always did.
    """
    from m3d_engine_spark.config import ConfigError
    from m3d_engine_spark.sources.dfs import DFS

    base = state_loc.rstrip("/")
    dirs, swap, flat = set(), set(), []
    per_dir: "dict[str, list[str]]" = {}
    for rel, size in DFS(spark).committed_files(base):
        head = rel.split("/", 1)[0]
        if "/" not in rel:
            flat.append(rel)
        elif not head.startswith("batch_tag="):
            continue  # unrelated parked subdir — never state data
        elif "__tmp_" in head or "__bak_" in head:
            swap.add(head)
        else:
            dirs.add(head)
            per_dir.setdefault(head, []).append(f"{rel}:{size}")
    if flat:
        raise ConfigError(
            f"state_location {state_loc} holds committed files at the "
            f"root (e.g. {flat[0]!r}) — a legacy flat state mixed with "
            "the tagged layout. Ignoring them would silently forget "
            "every id they record; move them into a "
            "batch_tag=<legacy-tag> subdirectory (any past tag name) "
            "or drop the batch_tag param to stay on the flat layout"
        )
    for s in sorted(swap):
        if "__bak_" in s and s.split("__bak_", 1)[0] not in dirs:
            raise ConfigError(
                f"state_location {state_loc} holds an orphan "
                f"compaction backup {s!r} whose base tag dir is gone — "
                "a compaction crashed mid-swap and the backup is that "
                "batch's only data. Re-run with "
                "compact_state_over_files set (its prepare-time "
                "recovery restores the backup before the state is "
                "read), or rename the dir back by hand (strip the "
                "'__bak_*' suffix)"
            )
    if own_tag is not None:
        dirs.discard(f"batch_tag={own_tag}")
    paths = [f"{base}/{d}" for d in sorted(dirs)]
    if not with_signatures:
        return paths
    # Per-tag-dir content signatures from the SAME listing the
    # classification used (never a second racy pass): md5 of the
    # sorted committed (relpath, size) list. A replay or compaction
    # rewrites a dir's part files (new task-uuid names), so the
    # signature changes whenever the dir's bytes could have — the
    # cheap drift detector the fold sidecar and the ``state_table``
    # probe share (reading the data to hash it would cost the state
    # scan the fold exists to avoid). Covers ALL committed tag dirs,
    # including the excluded own tag — callers compare against the
    # fold's recorded subset.
    import hashlib

    sigs = {
        d: hashlib.md5("\n".join(sorted(entries)).encode()).hexdigest()
        for d, entries in per_dir.items()
    }
    return paths, sigs


def _span_tokens_param(params) -> int:
    # {"span_tokens": true} would coerce to 1 and scrub every token
    # shared with the benchmark VOCABULARY — the shared ParamsFile
    # guard flags the config typo, naming the key.
    return params.get_optional_int("span_tokens", 8, minimum=1)


@register("Decontaminate")
class DecontaminateAlgorithm(Algorithm):
    """``exact_decontaminate`` behind the JSON-params dispatch — the
    benchmark scrub as a schedulable job (and a Pipeline step):

        python -m m3d_engine_spark Decontaminate params.json

    Config keys: source_location OR source_table (the train corpus);
    probe_location OR probe_table (the benchmark corpus); id_column /
    text_column (defaults doc_id/text); probe_id_column /
    probe_text_column (default to the train names); span_tokens
    (default 8); initial_gram (default 8, >= 1 — the prefix-doubling
    seed width, clamped down to the largest power of two <=
    min(span_tokens, initial_gram); exact mode only — the
    artifact/materialize modes are hash-tier and run no cascade);
    target_location OR target_table (+ the shared write_output
    surface).

    Artifact modes (the production shape — hash the benchmark ONCE
    per release, scrub any number of corpora without re-reading its
    text): ``materialize_probe_artifact: true`` reads only the probe
    side and writes the distinct-window-hash artifact to the target;
    ``probe_artifact_location`` (instead of probe_location/table)
    scrubs against a previously materialized artifact via the
    broadcast md5 path.

    State hygiene: ``compact_state_over_files: N`` (opt-in, with
    state_location) rewrites the scrubbed-ids state through the atomic
    small-files compaction when it accretes more than N data files —
    one small parquet append per night adds up; layout only, after the
    state update.

    Incremental mode (either scrub variant): ``state_location`` makes
    nightly batches pay only for NEW documents — ids already recorded
    in the state are anti-joined out before the scrub, and this
    batch's ids are recorded in the state after the output commits.
    Point the target at a per-batch overwrite location; the union of
    batch outputs is pinned equal to the from-scratch scrub. Add
    ``batch_tag`` (the nightly date) for the TAGGED state layout —
    per-batch overwrite dirs with own-tag exclusion on read — which
    makes a FULL re-run of an already recorded batch reproduce its
    output bit-for-bit; without a tag (the flat append layout) such a
    re-run anti-joins its own ids out and overwrites the night's
    output with an empty frame, so the flat layout is only safe for
    orchestrators that never replay a succeeded run (the
    crash-between-commits window is safe in both layouts).

    Lake-scale probe (tagged mode only): ``state_table`` makes the
    anti-join's state side the id-bucketed table ``action:
    "fold_state"`` maintains (state_location + state_table +
    state_buckets + fold_up_to — the scrubbed-ids sibling of the
    ExactSubstrDedup window-count fold, same sidecar protocol and
    drift refusals, :func:`materialize_scrubbed_ids_table`): the
    lake-sized id relation stops shuffling every night, and the
    not-yet-folded recent tags chain as a second broadcastable
    anti-join."""

    def _mode(self) -> str:
        """Resolve the run mode, REJECTING ambiguous combinations — a
        copy-pasted acon that sets both an artifact location and a
        probe corpus (or both mode switches) must fail loudly, not
        silently ignore one of them."""
        from m3d_engine_spark.config import ConfigError

        p = self.params
        action = p.get_optional("action", "scrub")
        if action == "fold_state":
            return "fold_state"
        if action != "scrub":
            raise ConfigError(
                f"unknown action {action!r} for Decontaminate: "
                "expected 'scrub' (default — the four scrub/"
                "materialize modes below) or 'fold_state' (fold the "
                "tagged scrubbed-ids state into an id-bucketed table)"
            )
        materialize = bool(p.get_optional("materialize_probe_artifact", False))
        artifact = p.has("probe_artifact_location")
        probe_corpus = p.has("probe_location") or p.has("probe_table")
        if materialize and artifact:
            raise ConfigError(
                "materialize_probe_artifact and probe_artifact_location "
                "are mutually exclusive: one writes the artifact, the "
                "other consumes it"
            )
        if artifact and probe_corpus:
            raise ConfigError(
                "probe_artifact_location together with probe_location/"
                "probe_table is ambiguous: artifact mode never reads "
                "the probe corpus — drop one"
            )
        if materialize:
            return "materialize"
        if artifact:
            return "artifact"
        return "exact"

    def prepare(self) -> None:
        # fail on ambiguous mode combos / a sidecar-less materialize
        # target BEFORE any data is read
        mode = self._mode()
        p = self.params
        if mode == "fold_state":
            from m3d_engine_spark.config import ConfigError

            if not (p.has("state_location") and p.has("state_table")):
                raise ConfigError(
                    "fold_state needs state_location (the TAGGED "
                    "scrubbed-ids state to fold) and state_table (the "
                    "id-bucketed metastore table to write)"
                )
            for bad in ("source_location", "source_table", "batch_tag",
                        "target_location", "target_table",
                        "probe_location", "probe_table",
                        "probe_artifact_location",
                        "materialize_probe_artifact",
                        "compact_state_over_files", "span_tokens",
                        "initial_gram", "load_mode", "probe_id_column",
                        "probe_text_column", "text_column"):
                if p.has(bad):
                    raise ConfigError(
                        f"{bad} does not apply to action='fold_state': "
                        "the fold reads the state dirs and writes only "
                        "the bucketed table — drop it"
                    )
            p.get_optional_int("state_buckets", 32, minimum=1)
            if p.has("fold_up_to") and not isinstance(
                p.get_optional("fold_up_to"), str
            ):
                raise ConfigError(
                    "fold_up_to must be a string tag cutoff (e.g. the "
                    "last completed nightly date, '2026-08-09'), got "
                    f"{p.get_optional('fold_up_to')!r}"
                )
            return
        if p.has("state_buckets"):
            from m3d_engine_spark.config import ConfigError

            raise ConfigError(
                "state_buckets applies to action='fold_state' only "
                "(the fold's bucket count; the probe side adopts the "
                "table's layout) — drop it"
            )
        if p.has("fold_up_to"):
            from m3d_engine_spark.config import ConfigError

            raise ConfigError(
                "fold_up_to applies to action='fold_state' only (the "
                "completed-tag cutoff; the probe reads whatever the "
                "fold's sidecar recorded) — drop it"
            )
        if p.has("state_table") and not (
            p.has("state_location") and p.has("batch_tag")
        ):
            from m3d_engine_spark.config import ConfigError

            raise ConfigError(
                "state_table (the folded scrubbed-ids probe source) "
                "refines the TAGGED incremental mode and needs "
                "state_location + batch_tag alongside it: the tag "
                "dirs remain the retry-exclusion source of truth — "
                "the table only replaces reading the dirs the fold "
                "already covers"
            )
        if mode == "materialize" and not self.params.has("target_location"):
            from m3d_engine_spark.config import ConfigError

            raise ConfigError(
                "materialize_probe_artifact requires target_location "
                "(the span_tokens sidecar lives next to the data)"
            )
        if mode == "materialize" and self.params.has("state_location"):
            from m3d_engine_spark.config import ConfigError

            raise ConfigError(
                "state_location applies to scrub runs (it tracks which "
                "train docs were already scrubbed); materialize reads "
                "only the probe corpus — drop one"
            )
        if self.params.has("batch_tag"):
            from m3d_engine_spark.config import ConfigError

            if not self.params.has("state_location"):
                raise ConfigError(
                    "batch_tag names this batch's state contribution "
                    "and is meaningless without state_location — add "
                    "the state dir or drop the tag"
                )
            _validated_batch_tag(self.params)  # fail before any read
        # compaction dial sanity + swap-litter recovery BEFORE any
        # state read (the ADVICE-r15 ordering: recovery at write time
        # only arrives after a missing flat state was already misread
        # as empty — see _recover_state_swaps_early)
        _require_state_for_compaction(self.params)
        _recover_state_swaps_early(self.spark, self.params)
        if mode != "materialize" and self.params.has("state_location"):
            from m3d_engine_spark.config import ConfigError
            from m3d_engine_spark.sources.writers import LoadMode

            lm = LoadMode(
                self.params.get_optional("load_mode", "OverwriteTable")
            )
            if lm in (
                LoadMode.APPEND_JOIN_PARTITIONS,
                LoadMode.APPEND_UNION_PARTITIONS,
            ):
                # The output commit and the state append are two
                # separate jobs: a crash between them leaves the batch
                # unrecorded, and the nightly RETRY re-scrubs it.
                # Overwrite targets absorb the retry (same rows replace
                # themselves); an append target would hold the batch's
                # rows TWICE. Idempotence under retry is part of the
                # incremental contract, so append modes are rejected
                # up front rather than documented around.
                raise ConfigError(
                    f"load_mode={lm.value} with state_location is not "
                    "retry-safe: a crash between the output commit and "
                    "the state append would duplicate the batch's rows "
                    "on retry — use an overwrite load_mode (per-batch "
                    "output dir or partition)"
                )

    def _read_train(self) -> DataFrame:
        p = self.params
        return (
            self.spark.table(p.get_string("source_table"))
            if p.has("source_table")
            else self.spark.read.parquet(p.get_string("source_location"))
        )

    def read(self) -> list[DataFrame]:
        p = self.params
        mode = self._mode()
        if mode == "fold_state":
            return []  # maintenance action: reads its own state dirs
        if mode == "artifact":
            return [
                self._read_train(),
                self.spark.read.parquet(
                    p.get_string("probe_artifact_location")
                ),
            ]
        probes = (
            self.spark.table(p.get_string("probe_table"))
            if p.has("probe_table")
            else self.spark.read.parquet(p.get_string("probe_location"))
        )
        if mode == "materialize":
            return [probes]
        return [self._read_train(), probes]

    def transform(self, dfs: list[DataFrame]) -> list[DataFrame]:
        p = self.params
        mode = self._mode()
        if mode == "fold_state":
            return []
        id_col = p.get_optional("id_column", "doc_id")
        text_col = p.get_optional("text_column", "text")
        L = _span_tokens_param(p)
        if mode == "materialize":
            return [
                probe_gram_artifact(
                    dfs[0],
                    p.get_optional("probe_text_column", text_col),
                    span_tokens=L,
                )
            ]
        # Incremental composition (the incremental-dedup artifact
        # pattern, operators/incremental.py): with ``state_location``
        # set, docs already scrubbed by a prior batch are anti-joined
        # out BEFORE the scrub — only new documents pay the suffix
        # cascade / artifact probe. Sound because decontamination is
        # per-document given the benchmark: a doc's scrub result never
        # depends on the rest of the corpus, so batch-by-batch output
        # unions to exactly the from-scratch scrub (equivalence-pinned
        # in tests). write() records this batch's ids in the state
        # AFTER the output commit.
        state_loc = p.get_optional("state_location")
        train_df = dfs[0]
        if state_loc:
            from m3d_engine_spark.sources.dfs import DFS as _DFS

            seen = None
            if p.has("batch_tag") and p.has("state_table"):
                # The 100 TB probe shape: the id-bucketed fold table
                # anti-joins FIRST (its side exchange-free — the
                # lake-sized id relation never shuffles), then the
                # not-yet-folded recent tag dirs chain as a second,
                # broadcastable anti-join. train ANTI (A ∪ B) ==
                # (train ANTI A) ANTI B — chaining instead of a union
                # keeps the bucketed distribution usable (a union
                # would destroy it). All fold-consistency refusals
                # (sidecar, own-tag folded, drift) live in
                # fold_probe_unfolded.
                unfolded = fold_probe_unfolded(
                    self.spark, state_loc, _validated_batch_tag(p),
                    p.get_string("state_table"), "scrubbed_ids_fold",
                )
                train_df = train_df.join(
                    self.spark.table(p.get_string("state_table"))
                    .select(id_col),
                    on=id_col, how="left_anti",
                )
                if unfolded:
                    train_df = train_df.join(
                        self.spark.read.parquet(*unfolded)
                        .select(id_col),
                        on=id_col, how="left_anti",
                    )
            elif p.has("batch_tag"):
                # Tagged layout (opt-in, the ExactSubstrDedup state
                # contract): per-batch overwrite dirs + OWN-TAG
                # exclusion on read, so a re-run of an ALREADY RECORDED
                # batch re-scrubs it and rewrites identical output —
                # without the tag, such a retry anti-joins its own ids
                # out and OVERWRITES the night's good output with an
                # empty frame. Use the tag for any target an
                # orchestrator might re-run after success.
                dirs = committed_tag_dirs(
                    self.spark, state_loc, _validated_batch_tag(p)
                )
                if dirs:
                    seen = self.spark.read.parquet(*dirs).select(id_col)
            elif _DFS(self.spark).first_file(state_loc) is not None:
                # Legacy flat layout: committed data present — read it,
                # and let a TRANSIENT read failure fail the batch (the
                # retry re-scrubs; silently treating errors as empty
                # state would re-scrub recorded docs and, worse, mask
                # a misconfigured state_location).
                seen = self.spark.read.parquet(state_loc).select(id_col)
            else:
                # No committed flat state. Before treating that as
                # empty, refuse if a <root>__bak_* sibling survives —
                # a compaction killed between AtomicWriter's two
                # renames moved the WHOLE state there, and scrubbing
                # against "empty" would re-emit every recorded doc and
                # (worse) let a later recovery delete the backup once
                # the new append recreates the base dir. Structural
                # close of the ADVICE-r15 data-loss path, independent
                # of whether compact_state_over_files is still set.
                orphan = _orphan_flat_state_backup(
                    _DFS(self.spark), state_loc
                )
                if orphan is not None:
                    from m3d_engine_spark.config import ConfigError

                    raise ConfigError(
                        f"state_location {state_loc} has no committed "
                        f"data but its compaction backup {orphan!r} "
                        "survives — a compaction crashed mid-swap and "
                        "the backup IS the state. Re-run with "
                        "compact_state_over_files set (its prepare-time "
                        "recovery restores the backup), or rename the "
                        "dir back by hand (strip the '__bak_*' suffix); "
                        "treating it as empty would re-scrub every "
                        "recorded doc"
                    )
                if _DFS(self.spark).exists(state_loc):
                    # Dir exists with no COMMITTED file (a first state
                    # append crashed — only _temporary inside, which
                    # first_file skips): no batch was ever recorded, so
                    # empty state is the truthful reading; erroring
                    # here would brick every subsequent nightly run.
                    import logging

                    logging.getLogger(__name__).warning(
                        "state_location %s exists but holds no "
                        "readable parquet (a first state append "
                        "crashed mid-write?); treating as empty state "
                        "— this batch scrubs in full",
                        state_loc,
                    )
            if seen is not None:
                train_df = train_df.join(seen, on=id_col, how="left_anti")
            # column-pruned id relation of THIS batch (no scrub in its
            # plan — write() must not re-run the cascade to learn ids)
            self._batch_ids = train_df.select(id_col)
        dfs = [train_df] + dfs[1:]
        if mode == "artifact":
            L = resolve_artifact_span_tokens(
                self.spark,
                p.get_string("probe_artifact_location"),
                explicit=L if p.has("span_tokens") else None,
            )
            return [
                decontaminate_with_artifact(
                    dfs[0], id_col, text_col, dfs[1], span_tokens=L
                )
            ]
        return [
            exact_decontaminate(
                dfs[0],
                id_col,
                text_col,
                dfs[1],
                p.get_optional("probe_id_column", id_col),
                p.get_optional("probe_text_column", text_col),
                span_tokens=L,
                # doubling-seed width (power-of-two clamped in
                # suffix_window_classes); only the exact mode runs the
                # cascade — artifact/materialize are hash-tier
                initial_gram=p.get_optional_int(
                    "initial_gram", 8, minimum=1
                ),
                track=self._checkpointed,
            )
        ]

    def write(self, dfs: list[DataFrame]) -> None:
        from m3d_engine_spark.sources.writers import write_output

        p = self.params
        if self._mode() == "fold_state":
            materialize_scrubbed_ids_table(
                self.spark,
                p.get_string("state_location"),
                p.get_string("state_table"),
                id_col=p.get_optional("id_column", "doc_id"),
                num_buckets=p.get_optional_int(
                    "state_buckets", 32, minimum=1
                ),
                up_to_tag=p.get_optional("fold_up_to"),
            )
            return
        if self._mode() == "materialize":
            # prepare() guaranteed target_location (the _meta.json
            # sidecar needs a filesystem address)
            write_output(self.spark, dfs[0], p)
            import json as _json

            from m3d_engine_spark.sources.dfs import DFS

            # span_tokens is baked into the hashes — record it next to
            # the artifact so the scrub side derives it (the
            # incremental-dedup _meta.json convention)
            DFS(self.spark).write_text(
                p.get_string("target_location").rstrip("/") + "/_meta.json",
                _json.dumps(
                    {
                        "kind": "probe_gram_artifact",
                        "span_tokens": _span_tokens_param(p),
                    }
                ),
            )
            return
        write_output(self.spark, dfs[0], p)
        if getattr(self, "_batch_ids", None) is not None:
            # State update strictly AFTER the output commit: a failed
            # output write leaves the ids unrecorded, so the batch is
            # retried in full — never marked done with no output. The
            # state grows by batch-sized parquet appends (no rewrite of
            # the accumulated id set — the 100 TB-friendly shape).
            ids_df = self._batch_ids
            from m3d_engine_spark.sources.writers import LoadMode

            if (
                p.has("target_location")
                and LoadMode(p.get_optional("load_mode", "OverwriteTable"))
                is LoadMode.OVERWRITE_TABLE
            ):
                # The common acon shape (per-batch output dir, default
                # overwrite): the just-committed output IS this batch,
                # so read the ids back from it — a batch-sized pruned
                # read, guaranteed consistent with what committed, and
                # it skips the second source-lake scan the _batch_ids
                # plan would pay. Append targets / tables hold prior
                # batches too, so they keep the source-side plan.
                ids_df = self.spark.read.parquet(
                    p.get_string("target_location")
                ).select(p.get_optional("id_column", "doc_id"))
            else:
                # _batch_ids' plan still holds the left-anti join that
                # SCANS state_location — writing to the same path the
                # job reads is append-mode-legal on current Spark but
                # fragile across committers and racy against a
                # concurrent run. Pin the ids first so the state job
                # never touches the state it extends.
                ids_df = ids_df.localCheckpoint(eager=True)
                self._checkpointed.append(ids_df)
            if p.has("batch_tag"):
                # Tagged layout: overwrite THIS batch's tag dir — a
                # retry (either crash window, or a full re-run after
                # success) rewrites identical rows; transform()'s
                # own-tag exclusion keeps the re-run's scrub complete.
                tag = _validated_batch_tag(p)
                ids_df.write.mode("overwrite").parquet(
                    p.get_string("state_location").rstrip("/")
                    + f"/batch_tag={tag}"
                )
            else:
                ids_df.write.mode("append").parquet(
                    p.get_string("state_location")
                )
            _maybe_compact_state(
                self.spark, p, p.get_string("state_location")
            )


@register("ExactSubstrDedup")
class ExactSubstrDedupAlgorithm(Algorithm):
    """The hash-free ExactSubstr tier behind the JSON-params dispatch
    (every other production dedup family — FuzzyDedup,
    IncrementalDedup, Decontaminate — already has an acon twin):

        python -m m3d_engine_spark ExactSubstrDedup params.json

    ``action: "dedup"`` (default) — :func:`exact_substr_dedup`: every
    length-``span_tokens`` window whose token sequence occurs >=
    ``min_occurrences`` times corpus-wide is removed from all but its
    minimum (doc, pos) occurrence and documents are rebuilt; emits
    (id, clean_text, n_tokens, n_removed).

    ``action: "spans"`` — :func:`exact_substr_spans`: the reporting
    view — maximal repeated intervals per document, (id, span_start,
    span_end, span_len), nothing removed.

    ``action: "fold_state"`` — :func:`materialize_window_count_table`:
    corpus maintenance, no source/target — folds the tag-dir
    window-count state at ``state_location`` into the metastore table
    ``state_table``, BUCKETED (and sorted) on gh
    (``state_buckets``, default 32) so nightly probes read the
    lake-sized count relation exchange-free (the 100 TB shape;
    plan-pinned). Run it over COMPLETED tags (weekly, or after
    compaction); ``fold_up_to`` (optional, inclusive lexicographic
    cutoff — nightly date tags sort naturally) leaves replay-eligible
    recent tags out of the fold so a backfill never collides with the
    'already folded' probe refusal.

    ``action: "compact_state"`` — corpus maintenance, no source/
    target: the small-files hygiene as its OWN schedulable step —
    recover any crashed-compaction swap litter, then rewrite every
    state leaf dir holding more than ``compact_state_over_files``
    committed files through the shared atomic compaction (layout
    only; the per-leaf / futility-guard semantics of the in-run
    dial). Nightly runs keep the dial OFF and the weekly maintenance
    Pipeline runs this step instead — the compaction cost moves out
    of the ingest critical path. Works on any state this module
    writes: the tagged window-count/scrubbed-ids layouts AND the
    legacy flat scrubbed-ids dir (one leaf).

    Incremental mode (action=dedup only): ``state_location`` +
    ``batch_tag`` switch to :func:`incremental_exact_substr` — the
    source is a NEW ingest batch scrubbed against the additive
    window-count artifact at ``state_location``, and this batch's own
    counts are written to ``{state_location}/batch_tag=<tag>`` AFTER
    the output commit, overwrite-style, so a crashed-and-retried
    nightly rewrites the same rows instead of double-counting (the
    retry contract the Decontaminate state shares). The state read
    excludes the batch's OWN tag, so a full re-run of an already
    recorded batch reproduces its output bit-for-bit. ``batch_tag``
    values must be per-batch unique (the nightly date is the natural
    tag); tags never fold into each other — counts do, at read time.
    ``compact_state_over_files: N`` (opt-in) compacts the state's
    small files when they exceed N, PRESERVING the batch_tag
    partitioning (granularity and retry exclusion survive).

    Config keys: action; source_location OR source_table; id_column
    ("doc_id") / text_column ("text"); span_tokens (default 8, >= 1)
    and min_occurrences (default 2, >= 2 — 1 would delete every
    window, i.e. the whole corpus) through the shared
    ``get_optional_int`` guard; initial_gram (default 8, >= 1 —
    clamped DOWN to the largest power of two <= min(span_tokens,
    initial_gram), the prefix-doubling seed width: larger folds more
    rounds into the seed exchange at wider key bytes, measured
    fastest at 8); state_location + batch_tag (incremental mode) +
    optional state_table (probe through the gh-bucketed fold_state
    table UNION the not-yet-folded tag dirs — the exchange-free
    100 TB probe; requires a committed fold sidecar, and refuses a
    batch whose own tag is already folded); state_location +
    state_table + state_buckets (default 32, >= 1 —
    action fold_state only); target_location OR target_table (+ the
    shared write_output surface). The doubling cascade's checkpoint blocks are registered
    on the run's cleanup list — long-lived sessions don't accumulate
    them."""

    def prepare(self) -> None:
        from m3d_engine_spark.config import ConfigError

        p = self.params
        action = p.get_optional("action", "dedup")
        if action not in ("dedup", "spans", "fold_state", "compact_state"):
            raise ConfigError(
                f"unknown action {action!r} for ExactSubstrDedup: "
                "expected 'dedup' (remove + rebuild), 'spans' (report "
                "maximal repeated intervals), 'fold_state' (fold "
                "the window-count state into a gh-bucketed table), or "
                "'compact_state' (small-files hygiene over the state "
                "dirs as a standalone maintenance step)"
            )
        if action == "compact_state":
            if not (
                p.has("state_location")
                and p.has("compact_state_over_files")
            ):
                raise ConfigError(
                    "compact_state needs state_location (the state to "
                    "compact) and compact_state_over_files (the "
                    "per-leaf committed-file threshold)"
                )
            for bad in ("source_location", "source_table", "batch_tag",
                        "target_location", "target_table", "state_table",
                        "state_buckets", "fold_up_to", "span_tokens",
                        "min_occurrences", "initial_gram", "load_mode",
                        "id_column", "text_column"):
                if p.has(bad):
                    raise ConfigError(
                        f"{bad} does not apply to "
                        "action='compact_state': the step only "
                        "rewrites over-threshold state leaf dirs in "
                        "place — drop it"
                    )
            p.get_optional_int(
                "compact_state_over_files", 1, minimum=1
            )  # shared garbage/boolean guard, fail before any FS work
            return
        if action == "fold_state":
            if not (p.has("state_location") and p.has("state_table")):
                raise ConfigError(
                    "fold_state needs state_location (the tag-dir "
                    "window-count state to fold) and state_table (the "
                    "gh-bucketed metastore table to write)"
                )
            for bad in ("source_location", "source_table", "batch_tag",
                        "target_location", "target_table",
                        "compact_state_over_files", "span_tokens",
                        "min_occurrences", "initial_gram", "load_mode",
                        "id_column", "text_column"):
                if p.has(bad):
                    # silently ignoring a key the user believes
                    # parameterizes the fold (compaction 'after', a
                    # span_tokens dial) is the config no-op class this
                    # surface rejects everywhere else
                    raise ConfigError(
                        f"{bad} does not apply to action='fold_state': "
                        "the fold reads the state dirs and writes only "
                        "the bucketed table — drop it"
                    )
            p.get_optional_int("state_buckets", 32, minimum=1)
            if p.has("fold_up_to") and not isinstance(
                p.get_optional("fold_up_to"), str
            ):
                # {"fold_up_to": true} would str() to "True", which
                # sorts ABOVE every date tag and silently folds
                # everything — the opposite of the cutoff's purpose
                raise ConfigError(
                    "fold_up_to must be a string tag cutoff (e.g. the "
                    "last completed nightly date, '2026-08-09'), got "
                    f"{p.get_optional('fold_up_to')!r}"
                )
            return
        _require_state_for_compaction(p)
        _recover_state_swaps_early(self.spark, p)
        if p.has("state_buckets"):
            # outside fold_state the key parameterizes nothing — the
            # probe adopts whatever bucketing the fold wrote
            raise ConfigError(
                "state_buckets applies to action='fold_state' only "
                "(the fold's bucket count; the probe side adopts the "
                "table's layout) — drop it"
            )
        if p.has("fold_up_to"):
            raise ConfigError(
                "fold_up_to applies to action='fold_state' only (the "
                "completed-tag cutoff; the probe reads whatever the "
                "fold's sidecar recorded) — drop it"
            )
        if p.has("state_table") and not (
            p.has("state_location") and p.has("batch_tag")
        ):
            raise ConfigError(
                "state_table (the folded window-count probe source) "
                "refines incremental mode and needs state_location + "
                "batch_tag alongside it: the tag dirs remain the "
                "retry-exclusion source of truth — the table only "
                "replaces reading the dirs the fold already covers"
            )
        if p.has("state_location") or p.has("batch_tag"):
            if action != "dedup":
                raise ConfigError(
                    "state_location/batch_tag/state_table (incremental "
                    "mode) apply to action='dedup' only: the spans "
                    "report has no cross-batch removal to track"
                )
            if not (p.has("state_location") and p.has("batch_tag")):
                raise ConfigError(
                    "incremental mode needs BOTH state_location (the "
                    "window-count artifact) and batch_tag (this batch's "
                    "unique, retry-stable name — the nightly date)"
                )
            _validated_batch_tag(p)  # fail on unsafe tags before any read
            from m3d_engine_spark.sources.writers import LoadMode

            lm = LoadMode(p.get_optional("load_mode", "OverwriteTable"))
            if lm in (
                LoadMode.APPEND_JOIN_PARTITIONS,
                LoadMode.APPEND_UNION_PARTITIONS,
            ):
                # same retry contract as the Decontaminate state: the
                # output commit and the state write are two jobs, and
                # only overwrite targets absorb the retry in between
                raise ConfigError(
                    f"load_mode={lm.value} with state_location is not "
                    "retry-safe: a crash between the output commit and "
                    "the state write would duplicate the batch's rows "
                    "on retry — use an overwrite load_mode (per-batch "
                    "output dir or partition)"
                )

    def _initial_gram(self) -> int:
        return self.params.get_optional_int("initial_gram", 8, minimum=1)

    def read(self) -> list[DataFrame]:
        p = self.params
        if p.get_optional("action", "dedup") in (
            "fold_state", "compact_state",
        ):
            return []  # maintenance actions: read their own state dirs
        return [
            self.spark.table(p.get_string("source_table"))
            if p.has("source_table")
            else self.spark.read.parquet(p.get_string("source_location"))
        ]

    def transform(self, dfs: list[DataFrame]) -> list[DataFrame]:
        p = self.params
        if p.get_optional("action", "dedup") in (
            "fold_state", "compact_state",
        ):
            return []
        id_col = p.get_optional("id_column", "doc_id")
        text_col = p.get_optional("text_column", "text")
        L = _span_tokens_param(p)
        min_occ = p.get_optional_int("min_occurrences", 2, minimum=2)
        if p.has("state_location"):
            state_loc = p.get_string("state_location")
            tag = _validated_batch_tag(p)
            # The shared probe-source resolver: committed non-own tag
            # dirs as plain leaf paths (no partition discovery — see
            # committed_tag_dirs for why), optionally UNIONed under the
            # gh-bucketed fold when state_table is set (the 100 TB
            # shape — the folded lake-sized side joins exchange-free).
            # Crashed-write litter skips via the committed-file probe,
            # while a TRANSIENT read error on committed state fails the
            # batch loudly (no blanket except — silently deduping
            # intra-batch only would admit every cross-batch duplicate,
            # and forward-only semantics never repair that).
            state = window_count_state(
                self.spark,
                state_loc,
                tag,
                state_table=p.get_optional("state_table"),
            )
            clean, counts = incremental_exact_substr(
                dfs[0],
                id_col,
                text_col,
                state,
                span_tokens=L,
                min_occurrences=min_occ,
                track=self._checkpointed,
            )
            self._batch_counts = counts
            return [clean]
        fn = (
            exact_substr_spans
            if p.get_optional("action", "dedup") == "spans"
            else exact_substr_dedup
        )
        return [
            fn(
                dfs[0],
                id_col,
                text_col,
                span_tokens=L,
                min_occurrences=min_occ,
                initial_gram=self._initial_gram(),
                track=self._checkpointed,
            )
        ]

    def write(self, dfs: list[DataFrame]) -> None:
        from m3d_engine_spark.sources.writers import write_output

        p = self.params
        if p.get_optional("action", "dedup") == "compact_state":
            # _maybe_compact_state recovers swap litter first, then
            # compacts per over-threshold leaf through the atomic swap
            _maybe_compact_state(
                self.spark, p, p.get_string("state_location")
            )
            return
        if p.get_optional("action", "dedup") == "fold_state":
            materialize_window_count_table(
                self.spark,
                p.get_string("state_location"),
                p.get_string("state_table"),
                num_buckets=p.get_optional_int(
                    "state_buckets", 32, minimum=1
                ),
                # 'completed' as config: only tags <= the cutoff fold,
                # so replay-eligible recent nights stay plain dirs
                up_to_tag=p.get_optional("fold_up_to"),
            )
            return
        write_output(self.spark, dfs[0], self.params)
        if getattr(self, "_batch_counts", None) is not None:
            # State write strictly AFTER the output commit (a failed
            # output leaves the batch unrecorded → retried in full) and
            # OVERWRITE into this batch's own tag dir: a retry after
            # both commits rewrites identical rows — counts can never
            # double, unlike a bare append. The artifact stays
            # additive: each tag dir is one batch's (gh, cnt)
            # contribution, folded by sum at read time.
            tag = _validated_batch_tag(self.params)
            self._batch_counts.write.mode("overwrite").parquet(
                self.params.get_string("state_location").rstrip("/")
                + f"/batch_tag={tag}"
            )
            _maybe_compact_state(
                self.spark,
                self.params,
                self.params.get_string("state_location"),
            )
