"""Streaming ingestion & aggregation pipelines.

The reference is batch-only (SURVEY.md §2.10); these are the streaming
equivalents of its load semantics, built on Structured Streaming:

* ``streaming_append_load`` — the AppendLoad pipeline as a file stream:
  landing dir → date-partition derivation → partitioned parquet sink
  with exactly-once checkpointing. ``trigger(availableNow=True)``
  gives batch-style runs over whatever landed, the production shape for
  incremental ingestion at scale (no full-dir re-listing per run beyond
  the source's file index).
* ``windowed_rollup`` — watermarked tumbling-window aggregation over an
  event-time column (late data handled by the watermark, state bounded).
* ``streaming_dedup`` — dropDuplicatesWithinWatermark on a content
  fingerprint: the streaming variant of exact dedup.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter
from pyspark.sql.types import StructType

from m3d_engine_spark.functions.dates import with_date_components
from m3d_engine_spark.functions.text import fingerprint


def streaming_append_load(
    spark: SparkSession,
    source_dir: str,
    schema: StructType,
    target_dir: str,
    checkpoint_dir: str,
    partition_column: str,
    partition_format: str,
    target_partitions: list[str],
    file_format: str = "parquet",
) -> DataStreamWriter:
    stream = (
        spark.readStream.format(file_format)
        .schema(schema)
        .option("maxFilesPerTrigger", 1000)
        .load(source_dir)
    )
    derived = with_date_components(stream, partition_column, partition_format, target_partitions)
    return (
        derived.writeStream.format("parquet")
        .option("path", target_dir)
        .option("checkpointLocation", checkpoint_dir)
        .partitionBy(*target_partitions)
        .trigger(availableNow=True)
    )


def windowed_rollup(
    events: DataFrame,
    ts_col: str = "ts",
    window: str = "1 hour",
    watermark: str = "2 hours",
    value_col: str = "value",
) -> DataFrame:
    """Tumbling-window count/sum with a watermark bounding state size."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window).alias("win"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(value_col), 4).alias("sum_value"),
        )
        .select(F.col("win.start").alias("window_start"), "n_events", "sum_value")
    )


def session_rollup(
    events: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    gap: str = "30 minutes",
    value_col: str = "value",
    watermark: str | None = None,
) -> DataFrame:
    """Per-key session aggregation via Spark's NATIVE
    ``session_window`` — the built-in merging-session operator (events
    whose gap-extended windows overlap coalesce into one session).
    Works identically on a batch DataFrame and a stream; pass
    ``watermark`` on the streaming side so session state is evicted
    once the watermark passes a session's close.

    Break semantics match ``sessionize``/``sessionize_batch`` (a new
    session only when the gap is STRICTLY exceeded — a successor
    landing exactly at ts+gap merges), but ``session_end`` is
    last-event-ts + gap (the window close), not the last event itself.

    One shuffle keyed on (key, merged session) — Spark plans a
    dedicated session-window aggregation (UpdatingSessionsExec) with
    map-side partial merge; nothing quadratic, state bounded per key
    by the open-session count under the watermark."""
    src = events.withWatermark(ts_col, watermark) if watermark else events
    return (
        src.groupBy(
            F.col(key_col),
            F.session_window(F.col(ts_col), gap).alias("_sw"),
        )
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_events"),
            F.round(
                F.sum(F.col(value_col).cast("decimal(30,12)")).cast("double"), 4
            ).alias("sum_value"),
        )
        .select(
            key_col,
            F.col("_sw.start").alias("session_start"),
            F.col("_sw.end").alias("session_end"),
            "n_events",
            "sum_value",
        )
    )


def sliding_rollup(
    events: DataFrame,
    ts_col: str = "ts",
    window: str = "1 hour",
    slide: str = "15 minutes",
    user_col: str = "user_id",
    watermark: str | None = None,
) -> DataFrame:
    """Sliding-window activity rollup via Spark's native overlapping
    ``window(ts, window, slide)``: events/actives per window where each
    event lands in window/slide overlapping windows (4 at 1h/15m).
    Same operator batch and streaming (pass ``watermark`` on a
    stream — note count_distinct needs ``approx_count_distinct`` under
    streaming update mode; the batch form is exact).

    The window assignment is a JVM-side Expand (one row per covered
    window, generated inside the scan task) feeding ONE keyed
    aggregation exchange — the fan-out never crosses an exchange
    un-aggregated thanks to the map-side partial."""
    src = events.withWatermark(ts_col, watermark) if watermark else events
    agg = [
        F.count(F.lit(1)).cast("long").alias("n_events"),
        (
            F.approx_count_distinct(user_col)
            if src.isStreaming
            else F.count_distinct(F.col(user_col))
        ).cast("long").alias("n_users"),
    ]
    return (
        src.groupBy(F.window(F.col(ts_col), window, slide).alias("_w"))
        .agg(*agg)
        .select(
            F.col("_w.start").alias("window_start"),
            F.col("_w.end").alias("window_end"),
            "n_events",
            "n_users",
        )
    )


def streaming_dedup(
    docs: DataFrame, ts_col: str, text_col: str = "text", watermark: str = "1 hour"
) -> DataFrame:
    """Exact-dup suppression within the watermark horizon."""
    with_fp = docs.withColumn("fingerprint", fingerprint(F.col(text_col)))
    return with_fp.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        ["fingerprint"]
    )


# ------------------------------------------------- custom stateful op
SESSION_STATE_SCHEMA = "start_ts timestamp, last_ts timestamp, n_events int, sum_value double"
SESSION_OUTPUT_SCHEMA = (
    "user_id bigint, session_start timestamp, session_end timestamp, "
    "n_events int, sum_value double"
)


def sessionize_batch(
    events: DataFrame,
    gap: str = "30 minutes",
    ts_col: str = "ts",
    user_col: str = "user_id",
    value_col: str = "value",
) -> DataFrame:
    """Pure-JVM batch sessionization: lag → over-gap flag → running sum
    (session id) → groupBy. Identical output to the Arrow kernel
    (equivalence-pinned), but the whole plan stays inside whole-stage
    codegen — one shuffle on the user key for the window, then a
    map-side-combinable aggregation; zero Python/Arrow dispatch. This is
    the batch entry point at scale; ``applyInPandas`` earns its dispatch
    cost only in the stateful-streaming twin, where window functions
    cannot express incremental state.

    ``sum_value`` goes through an exact decimal sum before the 4dp
    round, so the result is independent of partial-aggregation order
    (floats summed in different orders differ in the last ulp).
    """
    from pyspark.sql.window import Window

    from m3d_engine_spark.functions.epoch import epoch_us

    gap_us = int(_duration_seconds(gap) * 1_000_000)
    ts_type = events.schema[ts_col].dataType
    w = Window.partitionBy(user_col).orderBy(ts_col)
    brk = F.when(
        epoch_us(F.col(ts_col), ts_type)
        - epoch_us(F.lag(ts_col).over(w), ts_type)
        > gap_us,
        F.lit(1),
    ).otherwise(F.lit(0))
    sess = (
        events.select(
            F.col(user_col).alias("user_id"), F.col(ts_col), F.col(value_col)
        )
        .withColumn("_brk", brk)
        .withColumn(
            "_sid",
            F.sum("_brk").over(
                Window.partitionBy("user_id")
                .orderBy(ts_col)
                .rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
    )
    return (
        sess.groupBy("user_id", "_sid")
        .agg(
            F.min(ts_col).alias("session_start"),
            F.max(ts_col).alias("session_end"),
            F.count(F.lit(1)).cast("int").alias("n_events"),
            F.round(
                F.sum(F.col(value_col).cast("decimal(30,12)")).cast("double"), 4
            ).alias("sum_value"),
        )
        .drop("_sid")
    )


def sessionize(
    events: DataFrame,
    gap: str = "30 minutes",
    ts_col: str = "ts",
    user_col: str = "user_id",
    value_col: str = "value",
    watermark: str = "2 hours",
    idle_timeout: bool = False,
    use_arrow_batch: bool = False,
) -> DataFrame:
    """Session windows via ``applyInPandasWithState`` — the custom
    stateful operator shape Structured Streaming cannot express with
    built-in windows when the session logic needs arbitrary state
    (here: gap-based sessions emitting one row per closed session).

    State per user is O(1) (running aggregates only, never buffered
    events). Partitioning: groupBy(user) shuffles once; state lives
    with the partition (RocksDB/HDFS state store at cluster scale).

    ``idle_timeout=True`` arms a processing-time timeout that closes
    idle sessions between batches — use it with continuous triggers
    only: under ``trigger(availableNow=True)`` pending processing-time
    timeouts keep scheduling sweep micro-batches and the run never
    terminates, so batch-style runs default to closing sessions on gap
    detection (open sessions simply stay in state for the next run).

    On a batch DataFrame this delegates to ``sessionize_batch`` (the
    JVM window form — no Arrow dispatch); pass
    ``use_arrow_batch=True`` to force the ``applyInPandas`` kernel,
    kept as the equivalence check against the JVM plan and as the
    batch twin of the stateful kernel's semantics.
    """
    import pandas as pd

    gap_seconds = _duration_seconds(gap)

    def close_sessions(pdf: "pd.DataFrame") -> "pd.DataFrame":
        """Vectorized batch kernel: session id = cumulative count of
        over-gap deltas (diff → cumsum), then one groupby — no Python
        per-row loop, so each Arrow batch is a handful of pandas ops."""
        pdf = pdf.sort_values(ts_col)
        uid = pdf[user_col].iloc[0]
        sid = (pdf[ts_col].diff().dt.total_seconds() > gap_seconds).cumsum()
        g = pdf.groupby(sid)
        out = pd.DataFrame(
            {
                "user_id": uid,
                "session_start": g[ts_col].min(),
                "session_end": g[ts_col].max(),
                "n_events": g[ts_col].size().astype("int32"),
                "sum_value": g[value_col].sum().map(lambda v: round(float(v), 4)),
            }
        )
        return out.reset_index(drop=True)

    if not events.isStreaming:
        if use_arrow_batch:
            return events.groupBy(user_col).applyInPandas(
                close_sessions, schema=SESSION_OUTPUT_SCHEMA
            )
        return sessionize_batch(
            events, gap=gap, ts_col=ts_col, user_col=user_col, value_col=value_col
        )

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def stateful(key, batches, state: "GroupState"):
        (uid,) = key
        if state.hasTimedOut:
            if state.exists:
                start_ts, last_ts, n, total = state.get
                state.remove()
                yield pd.DataFrame(
                    [(uid, start_ts, last_ts, n, round(total, 4))],
                    columns=["user_id", "session_start", "session_end", "n_events", "sum_value"],
                )
            return
        batch_list = [b for b in batches if len(b)]
        if not batch_list:
            # A group can be invoked with no new data (timeout sweep
            # batches); re-arm the timeout and emit nothing — concat of
            # an empty list would crash the worker.
            if state.exists and idle_timeout:
                state.setTimeoutDuration(int(gap_seconds * 1000))
            return
        rows = pd.concat(batch_list).sort_values(ts_col)
        if state.exists:
            start_ts, last_ts, n, total = state.get
        else:
            start_ts = last_ts = None
            n, total = 0, 0.0
        closed = []
        for ts, val in zip(rows[ts_col], rows[value_col]):
            if last_ts is not None and (ts - last_ts).total_seconds() > gap_seconds:
                closed.append((uid, start_ts, last_ts, n, round(total, 4)))
                start_ts, n, total = None, 0, 0.0
            if start_ts is None:
                start_ts = ts
            last_ts = ts
            n += 1
            total += float(val) if val is not None else 0.0
        state.update((start_ts, last_ts, n, total))
        if idle_timeout:
            state.setTimeoutDuration(int(gap_seconds * 1000))
        if closed:
            yield pd.DataFrame(
                closed,
                columns=["user_id", "session_start", "session_end", "n_events", "sum_value"],
            )

    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(user_col)
        .applyInPandasWithState(
            stateful,
            outputStructType=SESSION_OUTPUT_SCHEMA,
            stateStructType=SESSION_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=(
                GroupStateTimeout.ProcessingTimeTimeout
                if idle_timeout
                else GroupStateTimeout.NoTimeout
            ),
        )
    )


def streaming_incremental_dedup(
    stream: DataFrame,
    accepted_path: str,
    checkpoint: str,
    id_col: str,
    text_col: str,
    **dedup_kwargs,
):
    """Streaming twin of ``operators/incremental.incremental_dedup``:
    every micro-batch is deduplicated against the ACCEPTED CORPUS AS OF
    THAT BATCH (seed + all earlier batches' survivors), then its
    survivors join the corpus — the continuously-growing-corpus shape a
    production crawl ingest runs.

    Exactly-once without a transactional sink: each batch's survivors
    are written with ``mode("overwrite")`` to the partition directory
    ``accepted_path/batch_id=<id>`` — a retried batch overwrites its own
    partition instead of appending twice, so the corpus is idempotent
    under foreachBatch's at-least-once replay. The corpus read inside
    the batch is a plain partition-discovery parquet read; at 100 TB
    the corpus-side fingerprint and band relations are the write-time
    artifacts described in ``operators/incremental.py`` — this function
    is the orchestration shell, the join topology is identical to the
    batch operator (new × existing only, nothing quadratic).

    Within a micro-batch, exact duplicates collapse to the minimum id
    (deterministic) BEFORE the corpus join; intra-batch FUZZY dedup is
    deliberately out of scope here, same contract as the batch
    operator (compose with ``fuzzy_dedup_corpus``). To start from an
    existing corpus, install it with ``seed_accepted_corpus`` BEFORE
    the first run — the seed then participates in every batch's read
    like any other partition; with no seed the first batch dedups
    against an empty corpus.

    Returns the started StreamingQuery (``trigger(availableNow=True)``
    — call ``awaitTermination()``; re-invoking later processes only new
    files thanks to the checkpoint).
    """
    def process(batch: DataFrame, batch_id: int) -> None:
        incremental_dedup_batch(
            batch, batch_id, accepted_path, id_col, text_col, **dedup_kwargs
        )

    return (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def incremental_dedup_batch(
    batch: DataFrame,
    batch_id: int,
    accepted_path: str,
    id_col: str,
    text_col: str,
    **dedup_kwargs,
) -> None:
    """One micro-batch of ``streaming_incremental_dedup`` (module-level
    so the at-least-once REPLAY path is directly testable)."""
    from m3d_engine_spark.operators.incremental import incremental_dedup
    from m3d_engine_spark.sources.dfs import DFS

    spark = batch.sparkSession
    # collapse exact dups inside the batch to the min-id winner
    winners = (
        batch.withColumn("_fp", F.md5(F.col(text_col)))
        .groupBy("_fp")
        .agg(F.min(F.col(id_col)).alias(id_col))
    )
    batch = batch.join(winners, on=id_col, how="left_semi")
    # Existence probed via the FS, not a blanket except: a transient
    # read error must FAIL the batch (foreachBatch retries it), not
    # silently dedup against an empty corpus and admit duplicates.
    if DFS(spark).exists(accepted_path):
        existing = (
            spark.read.parquet(accepted_path)
            # CRITICAL for replay: a retried batch must not see its
            # own previous (possibly partial) output — it would
            # self-match every row and overwrite its partition with
            # nothing, losing the batch from the corpus.
            .filter(F.col("batch_id") != batch_id)
            .drop("batch_id")
        )
    else:  # first batch, nothing accepted yet
        existing = batch.limit(0)
    surv = incremental_dedup(batch, existing, id_col, text_col, **dedup_kwargs)
    surv.write.mode("overwrite").parquet(f"{accepted_path}/batch_id={batch_id}")


def seed_accepted_corpus(df: DataFrame, accepted_path: str) -> None:
    """Install ``df`` as the initial accepted corpus for
    ``streaming_incremental_dedup`` (written under the reserved
    partition ``batch_id=-1`` so later batch reads discover it)."""
    df.write.mode("overwrite").parquet(f"{accepted_path}/batch_id=-1")


def streaming_decontaminate(
    stream: DataFrame,
    artifact_path: str,
    out_path: str,
    checkpoint: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    span_tokens: int | None = None,
):
    """Streaming twin of the artifact-mode ``Decontaminate`` scrub
    (operators/suffix.py): every micro-batch of incoming documents is
    scrubbed against a materialized ``probe_gram_artifact`` — the
    benchmark-sized hash relation BROADCASTS into each batch's cover
    join, the benchmark text is never read, and no suffix cascade runs
    (the artifact carries the equality decisions). The ingest-time
    complement of the nightly ``state_location`` composition: here new
    documents are scrubbed as they ARRIVE, so the nightly batch has
    nothing left to do.

    ``span_tokens`` follows the shared sidecar contract
    (``resolve_artifact_span_tokens``): adopted from the artifact's
    ``_meta.json``; an explicit conflicting value raises; a meta-less
    artifact requires the explicit value. Resolved ONCE at wiring time
    — a config error fails the start, not the Nth batch.

    Exactly-once without a transactional sink: each batch's scrubbed
    rows overwrite their own ``out_path/batch_id=<id>`` partition, so a
    replayed batch (foreachBatch is at-least-once) rewrites the same
    rows instead of appending twice. Returns the started query
    (``trigger(availableNow=True)``; re-invoking later processes only
    new files thanks to the checkpoint)."""
    from m3d_engine_spark.operators.suffix import (
        resolve_artifact_span_tokens,
    )
    from m3d_engine_spark.sources.dfs import DFS

    # Whether a sidecar exists at wiring decides the per-batch
    # contract: present -> every batch re-validates against a possible
    # refresh, and a refresh that LOSES the sidecar must fail the
    # batch (not silently scrub nothing at a stale L); absent -> the
    # trust warning is paid once below and batches stay quiet. Probed
    # BEFORE resolve (which re-checks internally) so the two can never
    # disagree about which contract was wired.
    had_sidecar = DFS(stream.sparkSession).exists(
        artifact_path.rstrip("/") + "/_meta.json"
    )
    L = resolve_artifact_span_tokens(
        stream.sparkSession, artifact_path, explicit=span_tokens
    )

    def process(batch: DataFrame, batch_id: int) -> None:
        decontaminate_stream_batch(
            batch, batch_id, artifact_path, out_path, id_col, text_col, L,
            expect_sidecar=had_sidecar,
        )

    return (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def decontaminate_stream_batch(
    batch: DataFrame,
    batch_id: int,
    artifact_path: str,
    out_path: str,
    id_col: str,
    text_col: str,
    span_tokens: int,
    expect_sidecar: bool = False,
) -> None:
    """One micro-batch of ``streaming_decontaminate`` (module-level so
    the at-least-once REPLAY path is directly testable). The artifact
    re-reads per batch — it is benchmark-sized and broadcast-bound, and
    re-reading keeps a mid-stream artifact refresh (a new benchmark
    release at the same dials) visible without restarting the query.
    The refresh is only sound at the SAME span_tokens, so the sidecar
    re-validates per batch against the wiring-time value: a mid-stream
    refresh at a different L fails the batch loudly instead of hashing
    incoming docs with the stale L and silently matching nothing (the
    no-op the sidecar contract exists to prevent)."""
    from m3d_engine_spark.operators.suffix import (
        decontaminate_with_artifact,
        resolve_artifact_span_tokens,
    )

    spark = batch.sparkSession
    # Re-validate only when a _meta.json is PRESENT (the refresh case):
    # an artifact that was meta-less AT WIRING already paid the trust
    # warning once — repeating it every micro-batch is the log noise
    # that trains operators to ignore the one warning that matters.
    # But when the wiring ADOPTED a sidecar (expect_sidecar) and it is
    # now gone, the artifact was refreshed without one: its L is
    # unknowable, a stale guess scrubs nothing, and silence here would
    # be the exact no-op the sidecar contract exists to prevent.
    from m3d_engine_spark.sources.dfs import DFS as _DFS

    meta_path = artifact_path.rstrip("/") + "/_meta.json"
    if _DFS(spark).exists(meta_path):
        resolve_artifact_span_tokens(
            spark, artifact_path, explicit=span_tokens
        )
    elif expect_sidecar:
        from m3d_engine_spark.config import ConfigError

        raise ConfigError(
            f"{meta_path} was present at wiring but is gone: the "
            "artifact was refreshed without its sidecar, so its "
            "span_tokens is unknowable — restore the sidecar or "
            "re-materialize the artifact (continuing at the stale "
            f"L={span_tokens} would silently scrub nothing)"
        )
    artifact = spark.read.parquet(artifact_path)
    out = decontaminate_with_artifact(
        batch, id_col, text_col, artifact, span_tokens=span_tokens
    )
    out.write.mode("overwrite").parquet(f"{out_path}/batch_id={batch_id}")


def streaming_nightly_ingest(
    stream: DataFrame,
    accepted_path: str,
    artifact_path: str,
    out_path: str,
    checkpoint: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    span_tokens: "int | None" = None,
    span_state_path: "str | None" = None,
    final_path: "str | None" = None,
    span_dedup_tokens: int = 8,
    span_min_occurrences: int = 2,
    span_state_table: "str | None" = None,
    **dedup_kwargs,
):
    """Streaming twin of ``examples/nightly_ingest.json`` (dedup →
    scrub → optional span dedup): every micro-batch is deduplicated
    against the accepted corpus as of that batch
    (``streaming_incremental_dedup``'s contract — survivors join the
    corpus at ``accepted_path/batch_id=<id>``), and the SURVIVORS are
    then scrubbed against the materialized probe-gram artifact into
    ``out_path/batch_id=<id>``. With ``span_state_path`` AND
    ``final_path`` set, the example's third step runs too: the
    scrubbed batch is ExactSubstr-span-deduped against the additive
    window-count artifact at ``span_state_path``
    (``incremental_exact_substr`` — seen-before windows lose every
    occurrence, batch-new windows keep their minimum site, the lake is
    never re-tokenized), the result lands at
    ``final_path/batch_id=<id>`` and the batch's own counts at
    ``span_state_path/batch_tag=<id>`` — the micro-batch id doubling
    as the retry-stable tag, so a replay overwrites both and the
    own-tag exclusion keeps the re-run's election complete.

    Shape: ONE foreachBatch running both steps, not two chained
    availableNow queries over a staged location — chosen because (a)
    the scrub consumes exactly the dedup survivors of the SAME batch,
    so the composition is per-batch sequential either way and a second
    query would only add a staging hop, (b) one checkpoint is one
    source of truth: a replayed batch re-runs dedup+scrub and
    overwrites BOTH of its partition dirs, so the pair can never skew
    (two checkpoints can — query 2 committed, query 1 replayed), and
    (c) a readStream over the growing staged dir would need schema
    pinning and its own re-trigger orchestration for zero benefit.
    The steps still communicate through committed locations (the
    scrub reads the survivors back from the batch's just-committed
    corpus partition — a batch-sized pruned read), exactly like the
    batch Pipeline's steps do.

    ``span_tokens`` follows the shared sidecar contract, resolved ONCE
    at wiring time; ``span_dedup_tokens``/``span_min_occurrences`` are
    the third step's independent dials; ``span_state_table`` (with the
    span step enabled) probes through the gh-bucketed ``fold_state``
    table UNION the not-yet-folded tag dirs instead of every tag dir —
    the exchange-free lake-scale probe, same contract as the batch
    CLI's ``state_table`` (``window_count_state``: requires a
    committed fold sidecar, refuses a replayed batch whose own tag is
    already folded); ``dedup_kwargs`` pass through to the dedup tier
    (threshold, num_hashes, ...). Returns the started query
    (``trigger(availableNow=True)``; re-invoking later processes only
    new files thanks to the checkpoint). Install an existing corpus
    with ``seed_accepted_corpus`` before the first run."""
    if (span_state_path is None) != (final_path is None):
        raise ValueError(
            "span_state_path and final_path enable the span-dedup step "
            "TOGETHER (one is the window-count artifact, the other the "
            "step's output root) — set both or neither"
        )
    if span_state_table is not None and span_state_path is None:
        raise ValueError(
            "span_state_table refines the span-dedup step's state "
            "probe and does nothing without span_state_path + "
            "final_path — enable the step or drop the table"
        )
    from m3d_engine_spark.operators.suffix import (
        resolve_artifact_span_tokens,
    )

    from m3d_engine_spark.sources.dfs import DFS

    # same sidecar-presence contract as streaming_decontaminate
    # (probed before resolve so the two can never disagree)
    had_sidecar = DFS(stream.sparkSession).exists(
        artifact_path.rstrip("/") + "/_meta.json"
    )
    L = resolve_artifact_span_tokens(
        stream.sparkSession, artifact_path, explicit=span_tokens
    )

    def process(batch: DataFrame, batch_id: int) -> None:
        nightly_ingest_stream_batch(
            batch, batch_id, accepted_path, artifact_path, out_path,
            id_col, text_col, L, expect_sidecar=had_sidecar,
            span_state_path=span_state_path, final_path=final_path,
            span_dedup_tokens=span_dedup_tokens,
            span_min_occurrences=span_min_occurrences,
            span_state_table=span_state_table,
            **dedup_kwargs,
        )

    return (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def nightly_ingest_stream_batch(
    batch: DataFrame,
    batch_id: int,
    accepted_path: str,
    artifact_path: str,
    out_path: str,
    id_col: str,
    text_col: str,
    span_tokens: int,
    expect_sidecar: bool = False,
    span_state_path: "str | None" = None,
    final_path: "str | None" = None,
    span_dedup_tokens: int = 8,
    span_min_occurrences: int = 2,
    span_state_table: "str | None" = None,
    **dedup_kwargs,
) -> None:
    """One micro-batch of ``streaming_nightly_ingest`` (module-level so
    the at-least-once REPLAY path is directly testable): the existing
    batch bodies composed — dedup commits the batch's corpus
    partition, the scrub reads those survivors back (committed data,
    batch-sized partition-pruned read — no recompute of the dedup
    plan) and commits the batch's output partition, and, when the
    span-dedup step is enabled, the scrubbed rows are read back once
    more, span-deduped against the window-count artifact (own batch_id
    tag excluded), and committed to final + state. A replay re-runs
    every overwrite in order; each step re-reads what the previous one
    just rewrote, so the chain stays consistent."""
    spark = batch.sparkSession
    incremental_dedup_batch(
        batch, batch_id, accepted_path, id_col, text_col, **dedup_kwargs
    )
    survivors = spark.read.parquet(
        f"{accepted_path}/batch_id={batch_id}"
    )
    decontaminate_stream_batch(
        survivors, batch_id, artifact_path, out_path,
        id_col, text_col, span_tokens, expect_sidecar=expect_sidecar,
    )
    if span_state_path is None:
        return
    from m3d_engine_spark.operators.base import unpersist_checkpoints
    from m3d_engine_spark.operators.suffix import (
        incremental_exact_substr,
        window_count_state,
    )

    scrubbed = spark.read.parquet(f"{out_path}/batch_id={batch_id}")
    # the shared probe-source resolver (tag dirs, or the gh-bucketed
    # fold UNION the unfolded dirs when span_state_table is set); the
    # micro-batch id doubles as the own tag for the retry exclusion
    state = window_count_state(
        spark, span_state_path, str(batch_id),
        state_table=span_state_table,
    )
    # the scrub's output carries the text as clean_text (the shared
    # family contract), so the span dedup reads that column — exactly
    # what the batch Pipeline's third step configures
    track = []  # freed below — a long-lived streaming session must not
    #             accumulate the election's checkpoint blocks per batch
    try:
        clean, counts = incremental_exact_substr(
            scrubbed, id_col, "clean_text", state,
            span_tokens=span_dedup_tokens,
            min_occurrences=span_min_occurrences,
            track=track,
        )
        clean.write.mode("overwrite").parquet(
            f"{final_path}/batch_id={batch_id}"
        )
        # state strictly after the final output commit, overwrite into
        # the batch's own tag — the CLI's retry contract, tag=batch_id
        counts.write.mode("overwrite").parquet(
            f"{span_state_path.rstrip('/')}/batch_tag={batch_id}"
        )
    finally:
        unpersist_checkpoints(track)


def _duration_seconds(s: str) -> float:
    qty, unit = s.split()
    mult = {
        "second": 1, "seconds": 1,
        "minute": 60, "minutes": 60,
        "hour": 3600, "hours": 3600,
    }[unit]
    return float(qty) * mult


# --------------------------------------------------- CLI registration
from m3d_engine_spark.config import ParamsFile  # noqa: E402
from m3d_engine_spark.operators.base import Algorithm, register  # noqa: E402


@register("StreamingAppendLoad")
class StreamingAppendLoadAlgorithm(Algorithm):
    """AppendLoad as an incremental Structured Streaming job: one
    ``availableNow`` run ingests whatever landed since the last
    checkpoint — exactly-once, no reprocessing, no landing-dir
    bookkeeping beyond the source's file index.

    Config: source_dir, schema (Spark JSON — streams cannot infer),
    file_format, target_location, checkpoint_location,
    target_partitions + partition_column(+_format).
    """

    def read(self) -> list:
        return []

    def transform(self, dfs: list) -> list:
        return []

    def write(self, dfs: list) -> None:
        p = self.params
        schema = StructType.fromJson(p.get_map("schema"))
        writer = streaming_append_load(
            self.spark,
            p.get_string("source_dir"),
            schema,
            p.get_string("target_location"),
            p.get_string("checkpoint_location"),
            partition_column=p.get_string("partition_column"),
            partition_format=p.get_string("partition_column_format"),
            target_partitions=p.get_list("target_partitions"),
            file_format=p.get_optional("file_format", "parquet"),
        )
        query = writer.start()
        query.awaitTermination()


@register("StreamingNightlyIngest")
class StreamingNightlyIngestAlgorithm(Algorithm):
    """The full nightly ingest — incremental dedup → benchmark scrub →
    optional ExactSubstr span dedup, ONE foreachBatch — as a
    params-driven acon, the streaming twin of
    ``examples/nightly_ingest.json`` runnable the same way every other
    algorithm is:

        python -m m3d_engine_spark StreamingNightlyIngest params.json

    One ``availableNow`` run per invocation: files that landed in
    ``source_dir`` since the last checkpoint are deduplicated against
    the accepted corpus, survivors are scrubbed against the
    materialized probe-gram artifact, and (with the span step enabled)
    span-deduped against the additive window-count state — exactly
    :func:`streaming_nightly_ingest`'s contract, including replay
    idempotency and the batch_id-as-state-tag retry exclusion.

    Config: source_dir, schema (Spark JSON — streams cannot infer),
    file_format ("parquet"), accepted_location,
    probe_artifact_location, target_location, checkpoint_location;
    id_column ("doc_id") / text_column ("text"); span_tokens (the
    shared artifact-sidecar contract — omit to adopt the sidecar);
    dedup dials threshold / num_hashes / bands / shingle_n. Span
    step (all-or-nothing): span_state_location + final_location
    TOGETHER, plus optional span_dedup_tokens / span_min_occurrences
    (shared integer guard) and span_state_table (probe through the
    gh-bucketed fold — ``window_count_state``'s contract). Span dials
    without the step are refused in prepare() (the silent config
    no-op class), as is half the location pair."""

    def _set(self, key: str) -> bool:
        # JSON null is how acons 'comment a key out' — a null-valued
        # key must behave exactly like an absent one, or the refusal
        # surface below silently diverges from the library's
        # value-is-None semantics
        return self.params.get_optional(key) is not None

    def prepare(self) -> None:
        from m3d_engine_spark.config import ConfigError

        p = self.params
        has_state = self._set("span_state_location")
        has_final = self._set("final_location")
        if has_state != has_final:
            raise ConfigError(
                "span_state_location and final_location enable the "
                "span-dedup step TOGETHER (one is the window-count "
                "state, the other the step's output root) — set both "
                "or neither"
            )
        if not has_state:
            for bad in ("span_dedup_tokens", "span_min_occurrences",
                        "span_state_table"):
                if self._set(bad):
                    raise ConfigError(
                        f"{bad} parameterizes the span-dedup step and "
                        "does nothing without span_state_location + "
                        "final_location — enable the step or drop it"
                    )
        # shared garbage/boolean guards for EVERY integer dial, fail
        # before any read — {"num_hashes": true} would range() to one
        # hash and silently gut LSH candidate generation, permanently
        # admitting duplicates into the stateful accepted corpus;
        # null-valued dials read as absent, like every key here
        for dial, lo in (("span_dedup_tokens", 1),
                         ("span_min_occurrences", 2),
                         ("num_hashes", 1), ("bands", 1),
                         ("shingle_n", 1), ("span_tokens", 1)):
            if self._set(dial):
                p.get_optional_int(dial, lo, minimum=lo)
        if self._set("threshold"):
            t = p.get_optional("threshold")
            if isinstance(t, bool) or not isinstance(t, (int, float)) \
                    or not (0 < t <= 1):
                raise ConfigError(
                    f"threshold must be a number in (0, 1], got {t!r} "
                    "(the Jaccard similarity above which a batch doc "
                    "counts as a duplicate)"
                )

    def read(self) -> list:
        return []

    def transform(self, dfs: list) -> list:
        return []

    def write(self, dfs: list) -> None:
        p = self.params
        schema = StructType.fromJson(p.get_map("schema"))
        stream = (
            self.spark.readStream.schema(schema)
            .format(p.get_optional("file_format", "parquet"))
            .load(p.get_string("source_dir"))
        )
        dedup_kwargs = {}
        if self._set("threshold"):
            dedup_kwargs["threshold"] = float(p.get_optional("threshold"))
        for k in ("num_hashes", "bands", "shingle_n"):
            if self._set(k):
                dedup_kwargs[k] = p.get_optional_int(k, 1, minimum=1)
        query = streaming_nightly_ingest(
            stream,
            p.get_string("accepted_location"),
            p.get_string("probe_artifact_location"),
            p.get_string("target_location"),
            p.get_string("checkpoint_location"),
            id_col=p.get_optional("id_column", "doc_id"),
            text_col=p.get_optional("text_column", "text"),
            span_tokens=(
                p.get_optional_int("span_tokens", 8, minimum=1)
                if self._set("span_tokens")
                else None
            ),
            span_state_path=p.get_optional("span_state_location"),
            final_path=p.get_optional("final_location"),
            span_dedup_tokens=(
                p.get_optional_int("span_dedup_tokens", 8, minimum=1)
                if self._set("span_dedup_tokens") else 8
            ),
            span_min_occurrences=(
                p.get_optional_int("span_min_occurrences", 2, minimum=2)
                if self._set("span_min_occurrences") else 2
            ),
            span_state_table=p.get_optional("span_state_table"),
            **dedup_kwargs,
        )
        query.awaitTermination()
