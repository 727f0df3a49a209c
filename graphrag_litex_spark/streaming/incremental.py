"""Incremental transcript ingest with Structured Streaming.

The reference is a pure batch pipeline (SURVEY.md §I: no streaming anywhere;
/root/reference/main.py:48-84), and the batch engine here keeps that stance
(checkpoint-resumable batch stages). This module adds the piece a
continuously-fed transcript store needs: a `readStream` file source over
arriving transcript parquet, per-microbatch extraction with the SAME
Arrow-batched ``extract_items`` kernel as the batch build, and append-only
mentions/raw_edges/raw_claims deltas (the batch build's ``items_*`` views)
— so the expensive extraction runs exactly once per turn, incrementally,
while the graph stages (linking/CC/merge) are re-run in batch over the
accumulated deltas (they are cheap relative to extraction and must see the
whole corpus anyway for canonicalization).

Also provided: a watermarked sliding-window aggregation over turn events
(turns/conversation activity per window) as the canonical late-data
pattern.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from graphrag_litex_spark.operators.extraction import (
    extract_items,
    items_mentions,
    items_raw_claims,
    items_raw_edges,
)
from graphrag_litex_spark.sources.tables import TRANSCRIPT_SCHEMA


def stream_extract(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    trigger_once: bool = True,
):
    """readStream(transcripts parquet dir) -> extraction deltas.

    Returns the StreamingQuery. Exactly-once per input file via the file
    source + checkpointLocation; each microbatch appends to
    ``{out_dir}/{mentions,raw_edges,raw_claims}_delta``.

    This is the RAW analytics delta feed: it applies no ingest hygiene.
    The KG BUILD path for streams is :func:`stream_kg_append`, which
    routes every microbatch through ``KGPipeline.append_transcripts`` and
    therefore inherits the forgotten-conversation exclusion and the
    optional PII redaction (tested: a forgotten conversation re-arriving
    on the stream never re-enters the graph).
    """
    stream = (
        spark.readStream.schema(TRANSCRIPT_SCHEMA)
        .option("maxFilesPerTrigger", 8)
        .parquet(input_dir)
    )

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        # One extraction pass per microbatch: materialize the item stream
        # once, fan out three appends.
        items = extract_items(batch_df).persist()
        try:
            for name, view in (
                ("mentions_delta", items_mentions),
                ("raw_edges_delta", items_raw_edges),
                ("raw_claims_delta", items_raw_claims),
            ):
                view(items).write.mode("append").parquet(os.path.join(out_dir, name))
        finally:
            items.unpersist()

    writer = (
        stream.select("conv_id", "turn_idx", "text")
        .writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", os.path.join(out_dir, "_stream_checkpoint"))
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_kg_append(
    spark: SparkSession,
    input_dir: str,
    pipeline,
    trigger_once: bool = True,
):
    """Continuous KG construction: readStream over arriving transcript
    parquet, each microbatch ingested through
    ``KGPipeline.append_transcripts`` — so the KG's extraction stage grows
    incrementally (exactly once per input file) while the arrival feed
    stays a plain directory of parquet files. After the stream drains, one
    ``pipeline.run(resume=True)`` rebuilds the (corpus-global) downstream
    stages; extraction is never recomputed.

    Exactly-once chain: the file source's checkpoint gives each file to one
    microbatch; the microbatch is staged to a deterministic per-batch dir
    (overwrite-idempotent on replay); ``append_transcripts`` is idempotent
    per staged path (a replayed batch whose append already committed is a
    no-op) and crash-safe via its write-ahead pending marker.

    Returns the StreamingQuery. ``pipeline.run()`` must have completed once
    (the appender requires an up-to-date extractions stage — an empty base
    corpus is fine).
    """
    stream = (
        spark.readStream.schema(TRANSCRIPT_SCHEMA)
        .option("maxFilesPerTrigger", 8)
        .parquet(input_dir)
    )

    def ingest(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        staging = os.path.join(
            pipeline.out_dir, "stream_ingest", f"batch_{batch_id:08d}"
        )
        batch_df.write.mode("overwrite").parquet(staging)
        pipeline.append_transcripts(staging)

    writer = stream.writeStream.foreachBatch(ingest).option(
        "checkpointLocation",
        os.path.join(pipeline.out_dir, "_stream_kg_checkpoint"),
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()


CONV_STATE_SCHEMA = "n_turns long, max_turn_idx int, n_chars long"
CONV_OUT_SCHEMA = "conv_id string, n_turns long, max_turn_idx int, n_chars long"


def conversation_progress(transcripts_stream: DataFrame) -> DataFrame:
    """Custom stateful operator: per-conversation running progress via
    ``applyInPandasWithState`` (arbitrary keyed state — the pattern for
    stateful logic Spark's built-in windowed aggs can't express).

    State per conv_id = (turns seen, highest turn index, total characters);
    every microbatch emits the UPDATED row for each conversation touched, so
    a downstream sink always holds the latest per-conversation progress.
    The final state equals the batch groupBy over the same rows — asserted
    in tests/test_streaming.py.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdfs, state: GroupState):
        n, mx, ch = state.get if state.exists else (0, -1, 0)
        for pdf in pdfs:
            n += len(pdf)
            if len(pdf):
                mx = max(mx, int(pdf["turn_idx"].max()))
                ch += int(pdf["text"].fillna("").str.len().sum())
        state.update((n, mx, ch))
        yield pd.DataFrame(
            {
                "conv_id": [key[0]],
                "n_turns": [n],
                "max_turn_idx": [mx],
                "n_chars": [ch],
            }
        )

    return transcripts_stream.groupBy("conv_id").applyInPandasWithState(
        update,
        CONV_OUT_SCHEMA,
        CONV_STATE_SCHEMA,
        "update",
        GroupStateTimeout.NoTimeout,
    )


INTEG_STATE_SCHEMA = "seen array<int>, n_turns long"
INTEG_OUT_SCHEMA = (
    "conv_id string, n_turns long, n_distinct_idx long, min_idx int, "
    "max_idx int, is_contiguous boolean"
)


def conversation_integrity_stream(transcripts_stream: DataFrame) -> DataFrame:
    """Streaming twin of operators/transcripts.conversation_integrity's
    contiguity gate: per-conversation state accumulates the DISTINCT turn
    indices seen so far, and every microbatch emits the updated verdict for
    each conversation touched — is_contiguous flips to True the moment the
    index set becomes exactly 0..n-1, so a downstream router can divert
    still-broken conversations while the stream runs instead of waiting
    for a batch validation pass.

    State is the distinct-index array (bounded by conversation length —
    session-scale, not corpus-scale — so state size is O(turns/conv), the
    same order as the built-in dedup state a drop-duplicates would keep).
    Timestamp-regression checks need cross-batch per-index ordering and
    stay batch-only (documented divergence; the batch gate reports them).
    Final state equals the batch operator's contiguity columns — asserted
    in tests/test_streaming.py.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdfs, state: GroupState):
        seen, n = state.get if state.exists else ([], 0)
        seen_set = set(seen)
        for pdf in pdfs:
            n += len(pdf)
            seen_set.update(int(i) for i in pdf["turn_idx"].dropna())
        seen_sorted = sorted(seen_set)
        state.update((seen_sorted, n))
        n_distinct = len(seen_sorted)
        mn = seen_sorted[0] if seen_sorted else None
        mx = seen_sorted[-1] if seen_sorted else None
        contiguous = bool(
            seen_sorted and mn == 0 and mx == n - 1 and n_distinct == n
        )
        yield pd.DataFrame(
            {
                "conv_id": [key[0]],
                "n_turns": [n],
                "n_distinct_idx": [n_distinct],
                "min_idx": [mn],
                "max_idx": [mx],
                "is_contiguous": [contiguous],
            }
        )

    return transcripts_stream.groupBy("conv_id").applyInPandasWithState(
        update,
        INTEG_OUT_SCHEMA,
        INTEG_STATE_SCHEMA,
        "update",
        GroupStateTimeout.NoTimeout,
    )


def streaming_session_stats(
    events_stream: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    gap_minutes: float = 30.0,
    watermark: str = "1 hour",
    value_col: str | None = None,
) -> DataFrame:
    """Watermarked streaming sessionization via Spark's native
    ``session_window`` — the streaming form of
    operators/temporal.session_stats_native (same 1µs-widened gap so the
    exact-gap boundary matches the batch lag/cumsum sessionizer). Sessions
    are emitted once closed (watermark passes session end); in append mode
    a trigger-once run over static files reproduces the batch output for
    every session older than the watermark — asserted in tests.
    """
    gap = f"{int(gap_minutes * 60_000_000) + 1} microseconds"
    # Watermarks require TIMESTAMP; parquet TIMESTAMP columns stream in as
    # TIMESTAMP_NTZ. The cast reinterprets the wall clock in the session tz
    # (UTC, session.get_spark) — same convention as temporal.ts_micros.
    events_stream = events_stream.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    aggs = [
        F.min(ts_col).alias("session_start"),
        F.max(ts_col).alias("session_end"),
        F.count(F.lit(1)).alias("n_events"),
    ]
    if value_col:
        aggs.append(F.round(F.sum(value_col), 6).alias("total_value"))
    return (
        events_stream.withWatermark(ts_col, watermark)
        .groupBy(F.col(key_col), F.session_window(F.col(ts_col), gap))
        .agg(*aggs)
        .drop("session_window")
    )


def windowed_turn_activity(
    transcripts_stream: DataFrame,
    window: str = "10 minutes",
    slide: str = "5 minutes",
    watermark: str = "30 minutes",
    exact_distinct: bool = False,
) -> DataFrame:
    """Watermarked sliding-window per-role turn counts (late-data pattern).

    Works on a streaming OR batch DataFrame with the transcripts schema.
    ``exact_distinct`` swaps the streaming-friendly approx_count_distinct
    for an exact distinct count (batch/oracle comparisons).
    """
    distinct = (
        F.count_distinct("conv_id") if exact_distinct else F.approx_count_distinct("conv_id")
    )
    return (
        transcripts_stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window, slide).alias("w"), F.col("role"))
        .agg(
            F.count(F.lit(1)).alias("n_turns"),
            distinct.alias("n_convs"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "role",
            "n_turns",
            "n_convs",
        )
    )


DEDUP_STATE_SCHEMA = "seen boolean"
DEDUP_OUT_SCHEMA = "text_hash string, doc_id string, text string"


def streaming_dedup(
    docs_stream: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ttl_minutes: float | None = None,
) -> DataFrame:
    """Exact-dedup GATE for a document stream: each distinct normalized
    text is emitted exactly once — the first microbatch it appears in wins
    (within that batch, the minimum id as string) and every later
    re-arrival is suppressed by keyed state. This is the ingest-dedup
    stage of a continuously-fed training-data pipeline (the streaming twin
    of operators/dedup.exact/normalized dedup), as a custom stateful
    operator via ``applyInPandasWithState``.

    Scale: state is ONE boolean row per distinct text hash,
    hash-partitioned across executors like any keyed state — corpus text
    never lives in the state store. ``ttl_minutes`` bounds state on
    unbounded streams via a processing-time timeout (re-arrivals cluster
    in time in real feeds; after the TTL a duplicate would be re-admitted
    — the standard memory/completeness trade, document per deployment).
    Output rows: (text_hash, doc_id, text).
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from graphrag_litex_spark.operators.dedup import norm_text_col

    hashed = docs_stream.select(
        F.md5(norm_text_col(text_col)).alias("text_hash"),
        F.col(id_col).cast("string").alias("doc_id"),
        F.col(text_col).alias("text"),
    )
    ttl_ms = int(ttl_minutes * 60_000) if ttl_minutes else None

    def update(key, pdfs, state: GroupState):
        if state.hasTimedOut:
            state.remove()
            return
        if state.exists:
            # Known hash: swallow the re-arrivals, refresh the TTL clock.
            for _ in pdfs:
                pass
            if ttl_ms:
                state.setTimeoutDuration(ttl_ms)
            return
        best = None
        for pdf in pdfs:
            for _, row in pdf.iterrows():
                if best is None or (row["doc_id"] or "") < best[0]:
                    best = ((row["doc_id"] or ""), row["text"])
        state.update((True,))
        if ttl_ms:
            state.setTimeoutDuration(ttl_ms)
        if best is not None:
            yield pd.DataFrame(
                {"text_hash": [key[0]], "doc_id": [best[0]], "text": [best[1]]}
            )

    timeout = (
        GroupStateTimeout.ProcessingTimeTimeout if ttl_ms else GroupStateTimeout.NoTimeout
    )
    return hashed.groupBy("text_hash").applyInPandasWithState(
        update, DEDUP_OUT_SCHEMA, DEDUP_STATE_SCHEMA, "append", timeout
    )


def stream_sft_samples(
    transcripts_stream: DataFrame,
    gap_minutes: float = 30.0,
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming SFT export: each conversation renders into ONE training
    sample (`operators/transcripts.render_sft` template, byte-identical)
    the moment its session CLOSES — last turn older than gap + watermark.
    The streaming twin of the batch renderer for a continuously-ingested
    transcript feed: samples flow to the SFT corpus as conversations end,
    no batch re-scan of the whole table per export.

    Per-turn rendering is a pure projection (no window — streaming can't
    sort-window); ordering happens INSIDE the session aggregate via
    array_sort over (turn_idx, rendered) structs, exactly the batch
    operator's concat. State per live conversation is its rendered turns
    (session-bounded); closed sessions flush on the watermark. A
    conversation idle-split by the gap emits one sample per session —
    the same semantics as sessionized ingest. Loss spans: run the batch
    `sft_loss_spans` over the emitted (now static) conversations — spans
    are a pure function of the turns, so streaming them adds nothing.
    """
    from graphrag_litex_spark.operators.transcripts import _sft_header_role

    gap = f"{int(gap_minutes * 60_000_000) + 1} microseconds"
    hdr = _sft_header_role()
    content = F.coalesce(F.col("text"), F.lit(""))
    rendered = F.concat(
        F.lit("<|im_start|>"), hdr, F.lit("\n"), content,
        F.lit("<|im_end|>"), F.lit("\n"),
    )
    turns = transcripts_stream.withColumn(
        "ts", F.col("ts").cast("timestamp")
    ).select(
        "conv_id",
        "ts",
        F.struct("turn_idx", rendered.alias("_r")).alias("_t"),
        (F.col("role") == "assistant").cast("long").alias("_is_a"),
    )
    return (
        turns.withWatermark("ts", watermark)
        .groupBy("conv_id", F.session_window(F.col("ts"), gap))
        .agg(
            F.concat_ws(
                "", F.transform(F.array_sort(F.collect_list("_t")), lambda s: s["_r"])
            ).alias("text"),
            F.count(F.lit(1)).cast("long").alias("n_turns"),
            F.sum("_is_a").cast("long").alias("n_assistant_turns"),
        )
        .select(
            "conv_id",
            "text",
            "n_turns",
            "n_assistant_turns",
            F.length("text").cast("long").alias("n_chars"),
        )
    )
