"""Distributed BPE (byte-pair-encoding) merge learning.

Beyond-reference capability — the tokenizer-training pass of an LLM
data pipeline (the census/fertility monitors in ``functions/text.py``
measure an EXISTING tokenizer; this learns one). The classic
algorithm (Sennrich et al. 2016): repeatedly merge the most frequent
adjacent symbol pair. The distributed shape mirrors how the
single-node reference trainers stay fast, translated to Spark:

* the corpus is scanned ONCE, into the word vocabulary ``(word, n)``
  — every later round iterates over this vocabulary-sized relation
  (10⁵-10⁶ rows no matter how big the corpus), never the corpus.
* one merge round = ONE map-side-combinable pair-count aggregate over
  the vocabulary + a 1-row argmax collect (count DESC, pair ASC — a
  total order, so training is deterministic) + a JVM fold applying
  the merge to each word's symbol array. No Python in any per-row
  path.
* the symbolized vocabulary is ``localCheckpoint``-ed each round —
  the lineage would otherwise double per round (the plan-blowup
  gotcha of every iterative operator in this engine).

At 100 TB the corpus→vocabulary census is the only big job (one
exchange on the word hash); training cost is rounds × vocabulary,
independent of corpus size — which is exactly why the vocabulary
iteration discipline matters.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from m3d_engine_spark.functions.idents import qident

from m3d_engine_spark.functions.text import tokens


def word_vocabulary(df: DataFrame, text_col: str) -> DataFrame:
    """Corpus → ``(word, n)`` occurrence census; the one corpus-sized
    job of BPE training (one exchange, map-side combined)."""
    return (
        df.select(F.explode(tokens(F.col(text_col))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def _to_symbols(col):
    """word → array of single-character symbols (codepoint split)."""
    q = qident(col)
    return F.expr(
        f"transform(sequence(1, length({q})), i -> substring({q}, i, 1))"
    )


def pair_census(vocab_syms: DataFrame) -> DataFrame:
    """Adjacent-pair counts over a symbolized vocabulary
    ``(syms array<string>, n)``: one generator fan-out + one
    aggregate. Pairs are weighted by word occurrences ``n``."""
    pairs = vocab_syms.filter(F.size("syms") >= 2).select(
        F.col("n"),
        F.explode(
            F.expr(
                "transform(sequence(1, size(syms) - 1),"
                " i -> struct(syms[i - 1] AS a, syms[i] AS b))"
            )
        ).alias("p"),
    )
    return pairs.groupBy(
        F.col("p.a").alias("a"), F.col("p.b").alias("b")
    ).agg(F.sum("n").alias("cnt"))


def _apply_merge(syms_col, a: str, b: str):
    """Left-to-right fold replacing every adjacent (a, b) with a+b —
    the standard greedy merge application. ``F.get`` (0-based, null
    out of bounds) keeps the empty-accumulator probe ANSI-safe."""
    la, lb = F.lit(a), F.lit(b)
    return F.aggregate(
        syms_col,
        F.array().cast("array<string>"),
        lambda acc, x: F.when(
            (F.get(acc, F.size(acc) - 1) == la) & (x == lb),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1), F.array(F.concat(la, lb))
            ),
        ).otherwise(F.concat(acc, F.array(x))),
    )


def bpe_train(
    df: DataFrame, text_col: str, num_merges: int, min_count: int = 1
) -> list[tuple[str, str]]:
    """Learn ``num_merges`` BPE merges from the corpus. Returns the
    ordered merge list ``[(a, b), ...]``. Deterministic: the argmax
    tiebreak is (count DESC, a ASC, b ASC). Stops early when no pair
    reaches ``min_count``."""
    if num_merges < 1:
        raise ValueError("num_merges must be >= 1")
    vocab = (
        word_vocabulary(df, text_col)
        .select(_to_symbols("word").alias("syms"), "n")
        .localCheckpoint()
    )
    merges: list[tuple[str, str]] = []
    for _ in range(int(num_merges)):
        top = (
            pair_census(vocab)
            .filter(F.col("cnt") >= int(min_count))
            .orderBy(F.col("cnt").desc(), F.col("a").asc(), F.col("b").asc())
            .limit(1)
            .collect()
        )
        if not top:
            break
        a, b = top[0].a, top[0].b
        merges.append((a, b))
        vocab = vocab.select(
            _apply_merge(F.col("syms"), a, b).alias("syms"), "n"
        ).localCheckpoint()
    return merges


def piece_candidates(
    vocab: DataFrame, max_piece_len: int = 6, min_count: int = 2,
    seed_size: int = 4096,
) -> DataFrame:
    """Seed vocabulary for unigram-LM training: every substring of
    length 1..``max_piece_len`` of every vocabulary word, weighted by
    word occurrences — one generator fan-out over the VOCABULARY
    relation (≤ L·max_piece_len rows per word, corpus-independent),
    one census. Single characters are always kept (the alphabet
    fallback that guarantees every word segments); multi-char pieces
    need ``min_count`` and must win a (count DESC, piece ASC) cut to
    ``seed_size`` — a deterministic total order.
    Returns ``(piece, cnt)``."""
    subs = vocab.filter(F.length("word") >= 1).select(
        "n",
        F.explode(
            F.expr(
                "flatten(transform(sequence(1, length(word)),"
                f" i -> transform(sequence(i, least(i + {int(max_piece_len) - 1},"
                " length(word))), j -> substring(word, i, j - i + 1))))"
            )
        ).alias("piece"),
    )
    census = subs.groupBy("piece").agg(F.sum("n").alias("cnt"))
    singles = census.filter(F.length("piece") == 1)
    multi = (
        census.filter(
            (F.length("piece") > 1) & (F.col("cnt") >= int(min_count))
        )
        .orderBy(F.col("cnt").desc(), F.col("piece").asc())
        .limit(int(seed_size))
    )
    return singles.unionByName(multi)


def _viterbi_segmenter(scores: dict, max_piece_len: int, floor: float):
    """Best-path unigram segmentation of one word under piece
    log-probs. Ties prefer the longer piece, then the
    lexicographically smaller one — a total order, so training is
    deterministic. Out-of-vocabulary single chars score ``floor``."""
    def segment(word: str) -> list[str]:
        L = len(word)
        # dp[i] = (score, start, piece) of the best parse of word[:i]
        dp = [None] * (L + 1)
        dp[0] = (0.0, -1, "")
        for i in range(1, L + 1):
            best = None
            for j in range(max(0, i - max_piece_len), i):
                if dp[j] is None:
                    continue
                piece = word[j:i]
                lp = scores.get(piece)
                if lp is None:
                    if i - j > 1:
                        continue
                    lp = floor
                cand = (dp[j][0] + lp, j, piece)
                if (
                    best is None
                    or cand[0] > best[0]
                    or (
                        cand[0] == best[0]
                        and (
                            len(cand[2]) > len(best[2])
                            or (len(cand[2]) == len(best[2])
                                and cand[2] < best[2])
                        )
                    )
                ):
                    best = cand
            dp[i] = best
        pieces: list[str] = []
        i = L
        while i > 0:
            _, j, piece = dp[i]
            pieces.append(piece)
            i = j
        pieces.reverse()
        return pieces

    return segment


def unigram_lm_train(
    df: DataFrame,
    text_col: str,
    n_iters: int = 2,
    max_piece_len: int = 6,
    min_count: int = 2,
    seed_size: int = 4096,
    floor_logp: float = -23.0,
):
    """SentencePiece-style unigram-LM tokenizer training (Kudo 2018),
    hard-EM (Viterbi) variant, distributed the same way ``bpe_train``
    is: the corpus is scanned ONCE into the word vocabulary; every EM
    round iterates over the VOCABULARY relation — Viterbi
    re-segmentation of each distinct word under the current piece
    scores, usage counts weighted by word frequency, scores
    re-estimated as log relative usage. Hard EM (count only the best
    parse) instead of full forward-backward expectations — the
    documented relaxation; it keeps every number a plain count and
    the re-estimation a single aggregate.

    Python appears ONLY in the per-distinct-word Viterbi kernel
    (vocabulary-sized input, Arrow-batched) — the corpus itself never
    crosses the Arrow boundary, mirroring the ann_kernels discipline.
    The piece table is broadcast into the kernel closure (it is
    ``seed_size``-bounded by construction).

    Returns ``(pieces, vocab)``: the final ``(piece, logp)`` score
    relation (driver-side list of Rows re-parallelized by the caller
    if needed) and the checkpointed word vocabulary."""
    import math

    from pyspark.sql.functions import pandas_udf

    vocab = word_vocabulary(df, text_col).localCheckpoint()
    spark = df.sparkSession
    cand = piece_candidates(
        vocab, max_piece_len=max_piece_len, min_count=min_count,
        seed_size=seed_size,
    ).collect()
    total = float(sum(r.cnt for r in cand))
    scores = {r.piece: math.log(r.cnt / total) for r in cand}

    for _ in range(int(n_iters)):
        seg = _viterbi_segmenter(dict(scores), int(max_piece_len),
                                 float(floor_logp))

        @pandas_udf("array<string>")
        def seg_udf(words):
            return words.map(seg)

        usage = (
            vocab.select(F.col("n"), F.explode(seg_udf("word")).alias("piece"))
            .groupBy("piece")
            .agg(F.sum("n").alias("u"))
            .collect()
        )
        used = {r.piece: r.u for r in usage}
        # alphabet floor: single chars survive at count 1 even when no
        # best parse uses them, so every future word still segments
        counts = {
            p: used.get(p, 1 if len(p) == 1 else 0) for p in scores
        }
        counts = {p: c for p, c in counts.items() if c > 0}
        tot = float(sum(counts.values()))
        scores = {p: math.log(c / tot) for p, c in counts.items()}

    pieces = spark.createDataFrame(
        sorted(scores.items()), "piece string, logp double"
    )
    return pieces, vocab


from m3d_engine_spark.operators.base import Algorithm, register  # noqa: E402


@register("TokenizerTrain")
class TokenizerTrainAlgorithm(Algorithm):
    """Tokenizer training behind the JSON-params dispatch — the same
    schedulable-job surface every load algorithm has:

        python -m m3d_engine_spark TokenizerTrain params.json

    Config keys: source_location OR source_table; text_column
    (default "text"); method — "bpe" (writes the ordered merge table
    ``(idx, a, b)``) or "unigram" (writes the score table
    ``(piece, logp)``); per-method dials num_merges / min_count /
    n_iters / max_piece_len / seed_size; target_location OR
    target_table via the shared write_output surface."""

    def read(self) -> list[DataFrame]:
        if self.params.has("source_table"):
            return [self.spark.table(self.params.get_string("source_table"))]
        return [
            self.spark.read.parquet(self.params.get_string("source_location"))
        ]

    def transform(self, dfs: list[DataFrame]) -> list[DataFrame]:
        text_col = self.params.get_optional("text_column", "text")
        method = self.params.get_optional("method", "bpe")
        if method == "bpe":
            merges = bpe_train(
                dfs[0],
                text_col,
                num_merges=int(self.params.get_optional("num_merges", 64)),
                min_count=int(self.params.get_optional("min_count", 2)),
            )
            return [
                self.spark.createDataFrame(
                    [(i, a, b) for i, (a, b) in enumerate(merges)],
                    "idx int, a string, b string",
                )
            ]
        if method == "unigram":
            pieces, _ = unigram_lm_train(
                dfs[0],
                text_col,
                n_iters=int(self.params.get_optional("n_iters", 2)),
                max_piece_len=int(
                    self.params.get_optional("max_piece_len", 6)
                ),
                min_count=int(self.params.get_optional("min_count", 2)),
                seed_size=int(self.params.get_optional("seed_size", 4096)),
            )
            return [pieces]
        raise ValueError(f"unknown tokenizer method {method!r}")

    def write(self, dfs: list[DataFrame]) -> None:
        from m3d_engine_spark.sources.writers import write_output

        write_output(self.spark, dfs[0], self.params)
