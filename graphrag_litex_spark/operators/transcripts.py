"""Agent-transcript analytics and ingest hygiene.

The pipeline's input is an Iceberg-shaped table of multi-turn
conversation / agent transcripts — (conv_id, turn_idx, role, text, tool,
ts) — and at 10^12 turns the ingest layer needs the same first-class
treatment the document corpus gets (dedup, quality, profiling): retry
storms duplicate whole conversations, upstream writers drop or repeat
turn indices, clock skew reorders timestamps, and tool-call distributions
drift. The reference consumes transcripts as flat documents
(/root/reference/main.py:56-66 `index_documents`,
extraction/text_chunker.py:120-141 `chunk_documents`) and has no ingest
validation at all — every operator here is a scale-path addition the
reference's in-memory design never needed.

Everything is one hash shuffle on the natural key:

* per-conversation operators (stats, integrity, prefix dedup) group or
  window on ``conv_id``. Conversations are bounded (turn count is
  human/agent-session-scale, not corpus-scale), so conv_id can never be
  a skew key the way a hot entity is — no salting needed; AQE handles
  the moderate tail. ``conversation_stats`` deliberately computes its
  window (per-turn gaps) and its aggregate over the SAME partitioning so
  Catalyst plans a single Exchange (asserted in tests).
* corpus-level rollups (role transitions, tool usage) aggregate the
  windowed/filtered stream with map-side combine; output cardinality is
  tiny (|roles|^2, |tools|), so the final shuffle moves partial counts
  only.

Determinism/oracle stance: outputs are integers, booleans, and md5 hex
strings (no float paths except explicitly-rounded averages), so every
operator has an exact ANSI-SQL oracle in ``__spark_entry__.oracle_sql``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# First-turn sentinel for transition counting: not a valid role value.
START = "<start>"


def conversation_stats(transcripts: DataFrame) -> DataFrame:
    """Per-conversation shape profile ->
    (conv_id, n_turns, n_user, n_assistant, n_system, n_tool_calls,
    n_distinct_tools, total_chars, duration_us, max_gap_us).

    ``duration_us`` = last ts - first ts in microseconds (exact integer;
    no float time math). ``max_gap_us`` = largest gap between consecutive
    turns under (turn_idx) ordering — the signal a session-splitter
    thresholds on. One Exchange: the lag window and the groupBy both
    partition by conv_id, so the aggregate reuses the window's shuffle.
    """
    us = F.unix_micros("ts")
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    gapped = transcripts.withColumn("_gap", us - F.lag(us).over(w))
    role_n = lambda r: F.sum(F.when(F.col("role") == r, 1).otherwise(0))
    return gapped.groupBy("conv_id").agg(
        F.count(F.lit(1)).alias("n_turns"),
        role_n("user").alias("n_user"),
        role_n("assistant").alias("n_assistant"),
        role_n("system").alias("n_system"),
        F.sum(F.when(F.col("tool").isNotNull(), 1).otherwise(0)).alias(
            "n_tool_calls"
        ),
        F.count_distinct("tool").alias("n_distinct_tools"),
        F.sum(F.coalesce(F.length("text"), F.lit(0))).alias("total_chars"),
        (F.max(us) - F.min(us)).alias("duration_us"),
        F.coalesce(F.max("_gap"), F.lit(0)).alias("max_gap_us"),
    )


def conversation_integrity(transcripts: DataFrame) -> DataFrame:
    """Ingest-hygiene validation per conversation ->
    (conv_id, n_turns, n_distinct_idx, min_idx, max_idx, is_contiguous,
    n_ts_regressions, n_null_text, n_empty_text).

    ``is_contiguous`` is the north-rule reassembly precondition: turn
    indices are exactly 0..n-1 with no duplicates or holes — the property
    that makes "per-turn text equality under stable (conv_id, turn_idx)
    ordering" well-defined. ``n_ts_regressions`` counts turns whose
    timestamp moves backwards under turn_idx ordering (clock skew /
    out-of-order ingest). A 10^12-turn ingest gates extraction on
    ``is_contiguous`` and routes violations to a quarantine table instead
    of crashing mid-corpus.
    """
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    flagged = transcripts.withColumn(
        "_ts_regress",
        F.when(F.col("ts") < F.lag("ts").over(w), 1).otherwise(0),
    )
    agg = flagged.groupBy("conv_id").agg(
        F.count(F.lit(1)).alias("n_turns"),
        F.count_distinct("turn_idx").alias("n_distinct_idx"),
        F.min("turn_idx").alias("min_idx"),
        F.max("turn_idx").alias("max_idx"),
        F.sum("_ts_regress").alias("n_ts_regressions"),
        F.sum(F.when(F.col("text").isNull(), 1).otherwise(0)).alias("n_null_text"),
        F.sum(
            F.when(F.trim(F.coalesce("text", F.lit(""))) == "", 1).otherwise(0)
        ).alias("n_empty_text"),
    )
    return agg.withColumn(
        "is_contiguous",
        (F.col("min_idx") == 0)
        & (F.col("max_idx") == F.col("n_turns") - 1)
        & (F.col("n_distinct_idx") == F.col("n_turns")),
    )


def role_transitions(transcripts: DataFrame) -> DataFrame:
    """Corpus-wide (from_role, to_role, n) transition counts under stable
    (conv_id, turn_idx) ordering; a conversation's first turn transitions
    from the ``<start>`` sentinel. The role-grammar fingerprint of an
    agent framework — drift here (e.g. tool->tool chains appearing) is
    an early upstream-regression signal. Output is |roles+1| x |roles|
    rows, so the final aggregate is a partial-count shuffle of a few
    dozen rows per task."""
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    return (
        transcripts.withColumn(
            "from_role", F.coalesce(F.lag("role").over(w), F.lit(START))
        )
        .groupBy("from_role", F.col("role").alias("to_role"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


def tool_usage(transcripts: DataFrame) -> DataFrame:
    """Per-tool usage profile over tool turns ->
    (tool, n_calls, n_convs, total_chars, avg_chars).

    ``n_convs`` = conversations that invoked the tool at least once.
    Tool-name cardinality is tiny, so this is a broadcast-sized rollup;
    the tool IS the classic skew key (one hot tool dominating calls), but
    as a pure aggregation it map-side-combines — skew only matters when
    this column becomes a JOIN key (see profiling.key_skew_profile for
    choosing the salt then)."""
    calls = transcripts.where(F.col("tool").isNotNull())
    return calls.groupBy("tool").agg(
        F.count(F.lit(1)).alias("n_calls"),
        F.count_distinct("conv_id").alias("n_convs"),
        F.sum(F.coalesce(F.length("text"), F.lit(0))).alias("total_chars"),
        F.round(
            F.sum(F.coalesce(F.length("text"), F.lit(0))) / F.count(F.lit(1)), 6
        ).alias("avg_chars"),
    )


def conversation_prefix_dups(transcripts: DataFrame, k: int = 3) -> DataFrame:
    """Conversation-level near-duplicate grouping by exact first-``k``-turn
    prefix -> (conv_id, prefix_hash, group_size, keeper_conv_id, is_keeper).

    Retry storms and at-least-once ingest duplicate whole conversations
    (same opening turns, sometimes divergent tails once the agent's
    sampling differs); document-level dedup never sees them because each
    turn is a separate row. The prefix key is md5 over the first k turns'
    text joined on chr(31) in turn order — exact, deterministic, and
    reproducible in ANSI SQL (md5 + string_agg), unlike xxhash64.
    Keeper = lexicographic-min conv_id per group (pure function of the
    data: partitioning/resume invariant). Two shuffles: groupBy(conv_id)
    to build prefixes, then a window over prefix_hash whose partition
    count is group-bounded (dup groups are small by construction; a
    boilerplate mega-group — e.g. an empty-prefix default — would surface
    in group_size and is a filtering problem, not a dedup problem)."""
    prefix = (
        transcripts.where(F.col("turn_idx") < k)
        .groupBy("conv_id")
        .agg(
            F.md5(
                F.concat_ws(
                    "\x1f",
                    F.sort_array(
                        F.collect_list(
                            F.struct("turn_idx", F.coalesce("text", F.lit("")).alias("t"))
                        )
                    ).getField("t"),
                )
            ).alias("prefix_hash")
        )
    )
    w = Window.partitionBy("prefix_hash")
    return prefix.select(
        "conv_id",
        "prefix_hash",
        F.count(F.lit(1)).over(w).alias("group_size"),
        F.min("conv_id").over(w).alias("keeper_conv_id"),
        (F.col("conv_id") == F.min("conv_id").over(w)).alias("is_keeper"),
    )


def conversation_entity_salience(
    mentions_canon: DataFrame, top_k: int = 3
) -> DataFrame:
    """Per-conversation DISTINCTIVE entities — "what is this conversation
    about" for a transcript browser: tf-over-df salience without the
    floating-point idf log.

    For each (conversation, canonical entity): tf = mention count inside
    the conversation, df = number of distinct conversations mentioning the
    entity corpus-wide, salience = ``tf * 1e6 div df`` — a truncating
    integer ratio that rises with local frequency and falls with ubiquity
    (monotone in tf/df, which is all a top-k needs; rank order matches
    tf/idf for any monotone idf). Keeps the ``top_k`` rows per conversation
    under the (salience desc, entity asc) total order.

    Plan: one conv-level agg (tf), one entity-level agg (df, entity-
    cardinality — AQE-sized join back), one per-conversation window
    (partitioned by conv_id, so no global sort; a conversation's entity
    set bounds the window). ``mentions_canon``: (conv_id, canonical).
    """
    tf = mentions_canon.groupBy("conv_id", "canonical").agg(
        F.count(F.lit(1)).alias("tf")
    )
    df = mentions_canon.groupBy("canonical").agg(
        F.countDistinct("conv_id").alias("df")
    )
    w = Window.partitionBy("conv_id").orderBy(
        F.col("salience_micro").desc(), F.col("canonical").asc()
    )
    return (
        tf.join(df, "canonical")
        .withColumn(
            "salience_micro",
            F.expr("(tf * 1000000) div df").cast("long"),
        )
        .withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= top_k)
        .select(
            "conv_id",
            "canonical",
            F.col("tf").cast("long").alias("tf"),
            F.col("df").cast("long").alias("df"),
            "salience_micro",
            F.col("rnk").cast("long").alias("rnk"),
        )
    )


def turn_latency(transcripts: DataFrame, keys: tuple = ("role",)) -> DataFrame:
    """Corpus-wide inter-turn latency profile per transition ->
    (from_<k>..., to_<k>..., n, sum_gap_us, max_gap_us, min_gap_us): for
    every consecutive turn pair under stable (conv_id, turn_idx) ordering,
    the timestamp gap in exact integer microseconds, aggregated by the
    (previous-turn, current-turn) values of ``keys`` — the agent-ops
    latency fingerprint ("how long does the assistant take after a user
    turn vs after a tool result"). ``keys=("role", "tool")`` refines to
    per-tool latency; null keys group as null. Gaps can be negative on
    clock-skewed ingest (the rows `conversation_integrity` counts as
    regressions) — they aggregate exactly rather than silently clamping,
    so the min_gap_us column IS the skew signal. No averages/divisions:
    sums and extrema only, so every value is engine-exact in ANSI SQL
    (avg = sum/n is the caller's one division). A conversation's first
    turn has no predecessor and is excluded.

    Plan: one conv_id window (same Exchange family as `role_transitions`)
    then a map-side-combined aggregate whose output cardinality is the
    key-vocabulary square — partial rows only ever cross the wire."""
    us = F.unix_micros("ts")
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    cur = transcripts.select(
        "conv_id", "turn_idx", *keys, us.alias("_us")
    ).withColumn("_gap_us", F.col("_us") - F.lag("_us").over(w))
    for k in keys:
        cur = cur.withColumn(f"from_{k}", F.lag(k).over(w))
    out_keys = [f"from_{k}" for k in keys] + [
        F.col(k).alias(f"to_{k}") for k in keys
    ]
    return (
        cur.where(F.col("_gap_us").isNotNull())
        .groupBy(*out_keys)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("_gap_us").cast("long").alias("sum_gap_us"),
            F.max("_gap_us").cast("long").alias("max_gap_us"),
            F.min("_gap_us").cast("long").alias("min_gap_us"),
        )
    )


def related_conversations(
    mentions_canon: DataFrame,
    min_shared: int = 1,
    max_entity_df: int | None = None,
) -> DataFrame:
    """Conversation-to-conversation similarity via SHARED CANONICAL
    ENTITIES — the "sessions about the same things" join of a transcript
    browser (the complement of :func:`conversation_entity_salience`:
    that says what a conversation is about, this says which other
    conversations are about it too). ->
    (conv_a, conv_b, n_shared, n_a, n_b, jaccard_micro), conv_a < conv_b,
    one row per unordered pair sharing >= ``min_shared`` entities.

    ``jaccard_micro`` = ``n_shared * 1e6 div (n_a + n_b - n_shared)`` —
    Jaccard over the conversations' distinct canonical-entity sets in
    truncating integer micro-units (exact in ANSI SQL; no float paths),
    the same determinism stance as `conversation_entity_salience`.

    Plan: an entity-inverted-index self-join — distinct (conv, entity)
    rows, equi-join on the entity, pair-key aggregate. The per-conv set
    sizes are a conv-cardinality aggregate joined back (AQE-broadcast
    regime). Never a cartesian: pairs exist only where an entity is
    shared. The quadratic landmine is the HOT ENTITY — an entity
    mentioned in d conversations mints d*(d-1)/2 candidate rows, and at
    corpus scale a celebrity entity has corpus-proportional df —
    ``max_entity_df`` is the valve (the same family as n-gram dedup's
    ``max_doc_freq`` boilerplate-shingle cap, operators/dedup.py): drop
    entities above the df cap from the INDEX ONLY, keeping full set
    sizes, so capped ``n_shared``/``jaccard_micro`` are LOWER BOUNDS and
    pairs linked solely by ubiquitous entities (least informative — the
    ones tf-over-df salience also sinks) drop first. Default None =
    exact; at 100 TB always set it (the cap also bounds join-key skew,
    so no salting is needed on the pair aggregate).

    ``mentions_canon``: (conv_id, canonical) as produced by joining the
    pipeline's mentions stage to the canon map (duplicate mention rows
    are fine — the index is distinct'd here). The distinct'd index is
    ``hard_checkpoint``-ed: it feeds FOUR subtrees (both self-join sides
    + both set-size lookups), and without the checkpoint Catalyst plans
    four full mentions scans+distincts (no exchange reuse across the
    union/self-join aliases — observed in the executed plan); one
    materialization is the same one-corpus-pass stance as the pipeline's
    distinct-names checkpoint (plans/pipeline.py). Call
    ``iterutils.release(result)`` after consuming the result to unpin the
    checkpoint blocks (long-lived sessions; same convention as
    `top_related_conversations` and the export jobs).
    """
    from graphrag_litex_spark.operators.iterutils import checkpoint_scope

    with checkpoint_scope() as scope:
        ents = scope.checkpoint(
            mentions_canon.select("conv_id", "canonical").distinct()
        )
        sizes = ents.groupBy("conv_id").agg(F.count(F.lit(1)).alias("n_ents"))
        idx = ents
        if max_entity_df is not None:
            dfc = ents.groupBy("canonical").agg(F.count(F.lit(1)).alias("__df"))
            idx = ents.join(
                dfc.where(F.col("__df") <= max_entity_df).select("canonical"),
                "canonical",
            )
        pairs = (
            idx.select("canonical", F.col("conv_id").alias("conv_a"))
            .join(idx.select("canonical", F.col("conv_id").alias("conv_b")), "canonical")
            .where(F.col("conv_a") < F.col("conv_b"))
            .groupBy("conv_a", "conv_b")
            .agg(F.count(F.lit(1)).alias("n_shared"))
            .where(F.col("n_shared") >= min_shared)
        )
        na = sizes.select(F.col("conv_id").alias("conv_a"), F.col("n_ents").alias("n_a"))
        nb = sizes.select(F.col("conv_id").alias("conv_b"), F.col("n_ents").alias("n_b"))
        out = (
            pairs.join(na, "conv_a")
            .join(nb, "conv_b")
            .select(
                "conv_a",
                "conv_b",
                F.col("n_shared").cast("long").alias("n_shared"),
                F.col("n_a").cast("long").alias("n_a"),
                F.col("n_b").cast("long").alias("n_b"),
                F.expr("(n_shared * 1000000) div (n_a + n_b - n_shared)")
                .cast("long")
                .alias("jaccard_micro"),
            )
        )
        # The lazy result still reads the checkpointed index: it carries the
        # handle, so `iterutils.release(result)` unpins it once consumed.
        return scope.result(out, ents)


def top_related_conversations(
    mentions_canon: DataFrame,
    top_k: int = 3,
    min_shared: int = 1,
    max_entity_df: int | None = None,
) -> DataFrame:
    """Per-conversation nearest neighbors over :func:`related_conversations`
    -> (conv_id, neighbor, n_shared, jaccard_micro, rnk): each
    conversation's ``top_k`` most entity-similar peers under the total
    order (jaccard_micro desc, neighbor asc) — the bounded, browsable form
    of the pair table (output is O(convs x k) regardless of how dense the
    shared-entity graph is; on a small entity vocabulary the raw pair
    graph degenerates toward complete, as the sf0.01 corpus does at
    124,750/124,750 pairs). Same valves as the pair operator; the ranking
    window partitions by conv_id (neighbor lists are conv-bounded after
    ``min_shared``/``max_entity_df``, never corpus-proportional)."""
    from graphrag_litex_spark.operators.iterutils import checkpoint_scope

    with checkpoint_scope() as scope:
        # The pair table feeds both union branches; checkpoint so the
        # inverted-index self-join runs once, not once per direction. The
        # eager pair materialization fully consumes the inner entity-index
        # checkpoint, which the scope frees on exit.
        inner = related_conversations(mentions_canon, min_shared, max_entity_df=max_entity_df)
        pairs = scope.checkpoint(scope.own(inner))
        sym = pairs.select(
            F.col("conv_a").alias("conv_id"),
            F.col("conv_b").alias("neighbor"),
            "n_shared",
            "jaccard_micro",
        ).unionByName(
            pairs.select(
                F.col("conv_b").alias("conv_id"),
                F.col("conv_a").alias("neighbor"),
                "n_shared",
                "jaccard_micro",
            )
        )
        w = Window.partitionBy("conv_id").orderBy(
            F.col("jaccard_micro").desc(), F.col("neighbor").asc()
        )
        out = (
            sym.withColumn("rnk", F.row_number().over(w))
            .where(F.col("rnk") <= top_k)
            .select(
                "conv_id",
                "neighbor",
                "n_shared",
                "jaccard_micro",
                F.col("rnk").cast("long").alias("rnk"),
            )
        )
        # Callers release(result) once consumed — unpins the pair checkpoint.
        return scope.result(out, pairs)


# ---- SFT export: chat-template rendering + loss-span masks -----------------

SFT_BOS = "<|im_start|>"
SFT_EOS = "<|im_end|>"


def _sft_header_role():
    """Rendered role header: ``role`` or ``role:tool`` for tool turns —
    agent transcripts keep which tool produced the turn."""
    return F.when(
        F.col("tool").isNotNull() & (F.col("tool") != ""),
        F.concat_ws(":", "role", "tool"),
    ).otherwise(F.col("role"))


def _sft_turns(transcripts: DataFrame) -> DataFrame:
    """Per-turn rendered string + the char span of the CONTENT within the
    conversation's full rendering. Spans come from a running-sum window
    over rendered-turn lengths — offsets are a pure function of the
    (conv_id, turn_idx) order, no string re-scanning, no UDF."""
    hdr = _sft_header_role()
    content = F.coalesce(F.col("text"), F.lit(""))
    rendered = F.concat(
        F.lit(SFT_BOS), hdr, F.lit("\n"), content, F.lit(SFT_EOS), F.lit("\n")
    )
    w = (
        Window.partitionBy("conv_id")
        .orderBy("turn_idx")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    turns = transcripts.select(
        "conv_id",
        "turn_idx",
        "role",
        rendered.alias("_r"),
        (F.length(F.lit(SFT_BOS)) + F.length(hdr) + F.lit(1)).alias("_hdr_len"),
        F.length(content).alias("_content_len"),
    )
    off = F.coalesce(F.sum(F.length("_r")).over(w), F.lit(0))
    return turns.select(
        "conv_id",
        "turn_idx",
        "role",
        "_r",
        (off + F.col("_hdr_len")).cast("long").alias("start_char"),
        (off + F.col("_hdr_len") + F.col("_content_len")).cast("long").alias(
            "end_char"
        ),
    )


def render_sft(transcripts: DataFrame) -> DataFrame:
    """Render each conversation into ONE training sample -> (conv_id,
    text, n_turns, n_assistant_turns, n_chars): the last-mile export step
    that turns the transcript table into SFT data (feed the result to
    `jobs/export_shards.py` for token-budget JSONL packing).

    Template (ChatML-shaped, deterministic):
        <|im_start|>{role[:tool]}\\n{text}<|im_end|>\\n   per turn,
    concatenated in (conv_id, turn_idx) order. Loss-mask spans for the
    assistant turns come from :func:`sft_loss_spans` (same offsets, same
    single window — 0-indexed [start_char, end_char) into ``text``).

    Plan: one per-conversation window for the offsets, one hash agg for
    the concat (collect_list of (turn_idx, rendered) structs, array_sort,
    then a codegen'd reduce) — conversations are session-bounded, so the
    collected array is never corpus-proportional. Marker collisions:
    turn text containing the template markers renders verbatim (the mask
    spans stay correct because offsets are length-arithmetic, not
    pattern matches).

    PRECONDITION (shared by every SFT operator here): (conv_id, turn_idx)
    must be unique — duplicate turn indices make the offset window's tie
    order partition-dependent, so spans could disagree with the rendering.
    This is exactly the ingest gate's contract: run
    `conversation_integrity` / `PipelineConfig(validate_ingest=True)`
    first; quarantined conversations never reach the exporter
    (`jobs/export_sft.py` consumes the gated table).
    """
    turns = _sft_turns(transcripts)
    agg = turns.groupBy("conv_id").agg(
        F.concat_ws(
            "",
            F.transform(
                F.array_sort(F.collect_list(F.struct("turn_idx", "_r"))),
                lambda s: s["_r"],
            ),
        ).alias("text"),
        F.count(F.lit(1)).alias("n_turns"),
        F.sum((F.col("role") == "assistant").cast("long")).alias(
            "n_assistant_turns"
        ),
    )
    return agg.select(
        "conv_id",
        "text",
        F.col("n_turns").cast("long").alias("n_turns"),
        F.col("n_assistant_turns").cast("long").alias("n_assistant_turns"),
        F.length("text").cast("long").alias("n_chars"),
    )


def sft_loss_spans(transcripts: DataFrame, roles: tuple = ("assistant",)) -> DataFrame:
    """Loss-mask spans -> (conv_id, turn_idx, start_char, end_char): the
    0-indexed [start, end) character span of each ``roles`` turn's CONTENT
    within :func:`render_sft`'s ``text`` (headers and markers excluded —
    the standard assistant-only SFT loss). Exactly the window pass
    `render_sft` uses, so the two outputs can never drift."""
    return (
        _sft_turns(transcripts)
        .where(F.col("role").isin(list(roles)))
        .select(
            "conv_id",
            F.col("turn_idx").cast("long").alias("turn_idx"),
            "start_char",
            "end_char",
        )
    )


def unroll_sft(
    transcripts: DataFrame,
    roles: tuple = ("assistant",),
    max_prompt_chars: int | None = None,
) -> DataFrame:
    """Per-turn SFT unrolling — the multi-turn recipe that trains on EVERY
    ``roles`` turn with its full preceding context, not one sample per
    conversation: for each matching turn emit
    -> (conv_id, turn_idx, prompt, completion, n_context_turns,
        n_prompt_chars, n_completion_chars)
    where ``prompt`` is the rendering of every earlier turn PLUS the
    target turn's opened header (``<|im_start|>{role[:tool]}\\n`` — the
    generation cue), and ``completion`` is the turn's content closed with
    ``<|im_end|>\\n``. Invariant (tested): ``prompt || completion`` equals
    the :func:`render_sft` text truncated at the end of the target turn,
    so unrolled samples and whole-conversation samples can never drift.

    ``max_prompt_chars`` left-truncates the prompt (keep the most recent
    context — the trainer-budget valve; both engines' ``right()``).

    Plan: ONE per-conversation window (ordered rows frame) carrying a
    running ``collect_list`` of rendered turns — same single hash shuffle
    as `render_sft`. Each emitted row materializes its own prefix, so a
    conversation's output is O(turns x chars) — quadratic in SESSION
    length, never corpus-proportional (sessions are bounded by the same
    argument as `render_sft`'s collected array; pathological transcripts
    are exactly what the ingest gate's `conversation_stats` length caps
    are for). Same (conv_id, turn_idx)-uniqueness precondition as every
    SFT operator here.
    """
    hdr = _sft_header_role()
    content = F.coalesce(F.col("text"), F.lit(""))
    rendered = F.concat(
        F.lit(SFT_BOS), hdr, F.lit("\n"), content, F.lit(SFT_EOS), F.lit("\n")
    )
    w = (
        Window.partitionBy("conv_id")
        .orderBy("turn_idx")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    base = transcripts.select(
        "conv_id",
        "turn_idx",
        "role",
        rendered.alias("_r"),
        F.concat(F.lit(SFT_BOS), hdr, F.lit("\n")).alias("_hdr"),
        F.concat(content, F.lit(SFT_EOS), F.lit("\n")).alias("_completion"),
    )
    unrolled = (
        base.withColumn(
            "_prefix",
            F.concat_ws("", F.coalesce(F.collect_list("_r").over(w), F.array())),
        )
        .withColumn("_n_ctx", F.count(F.lit(1)).over(w))
        .where(F.col("role").isin(list(roles)))
    )
    prompt = F.concat(F.col("_prefix"), F.col("_hdr"))
    if max_prompt_chars is not None:
        prompt = F.right(prompt, F.lit(max_prompt_chars))
    return unrolled.select(
        "conv_id",
        F.col("turn_idx").cast("long").alias("turn_idx"),
        prompt.alias("prompt"),
        F.col("_completion").alias("completion"),
        F.col("_n_ctx").cast("long").alias("n_context_turns"),
        F.length(prompt).cast("long").alias("n_prompt_chars"),
        F.length("_completion").cast("long").alias("n_completion_chars"),
    )


def pack_sft_spans(
    transcripts: DataFrame, budget: int, shard_hex_digits: int = 1
) -> DataFrame:
    """Trainer-ready packing metadata: render (:func:`render_sft`), pack
    whole conversations into ~``budget``-token bins (`sampling.pack_greedy`
    — no conversation is ever split), and emit every assistant loss span
    BIN-RELATIVE -> (bin_id, conv_id, turn_idx, start_char, end_char).

    ``start_char``/``end_char`` index into the bin's concatenated text
    (samples concatenated in conv_id order — the same deterministic order
    the packer assigns), which is exactly what a trainer needs to build
    the block-diagonal attention mask + loss mask for a packed batch
    without re-tokenizing: sample boundaries are where consecutive spans'
    conversations change.

    Plan: rendering's window + agg, the packer's sharded window, one
    per-bin window for the sample offsets (bins are budget-bounded — a
    handful of samples each — so the window state is tiny), and two hash
    joins on conv_id/bin keys. All integer arithmetic end to end.
    """
    from graphrag_litex_spark.operators.sampling import pack_greedy

    rendered = render_sft(transcripts)
    packed = pack_greedy(rendered, budget, id_col="conv_id", text_col="text")
    w = (
        Window.partitionBy("bin_id")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offs = (
        packed.join(
            rendered.select(F.col("conv_id").alias("doc_id"), "n_chars"),
            "doc_id",
        )
        .withColumn("_off", F.coalesce(F.sum("n_chars").over(w), F.lit(0)))
        .select(F.col("doc_id").alias("conv_id"), "bin_id", "_off")
    )
    return (
        sft_loss_spans(transcripts)
        .join(offs, "conv_id")
        .select(
            "bin_id",
            "conv_id",
            "turn_idx",
            (F.col("start_char") + F.col("_off")).cast("long").alias("start_char"),
            (F.col("end_char") + F.col("_off")).cast("long").alias("end_char"),
        )
    )


def sft_token_spans(
    transcripts: DataFrame,
    merges: list,
    roles: tuple = ("assistant",),
) -> DataFrame:
    """Loss-mask spans in TOKEN space -> (conv_id, turn_idx, start_tok,
    end_tok, n_conv_tokens): each :func:`sft_loss_spans` char span mapped
    into the corpus-trained byte-level BPE tokenization of the rendered
    conversation (`bpe_ops` merges) — what a trainer masks at batch time.

    Semantics are HF offset-mapping OVERLAP: [start_tok, end_tok) covers
    every token whose byte span intersects the content's byte span, so a
    punctuation token straddling the content/marker boundary (the BPE
    pretokenizer can merge `.` with the following `<`) is INCLUDED rather
    than silently truncating the loss region. Zero-width spans (empty
    assistant turns) map to an empty token range at the content position.

    Plan: rendering + spans are the two window passes those operators
    already run; the char->byte->token mapping is one Arrow-batched
    ``mapInPandas`` over conversations (per-worker encoder cache, numpy
    prefix sums + searchsorted — no per-char Python loop in the hot path).
    The BPE encode loop itself is not SQL-expressible, so this operator's
    driver check is rows-only; the invariants (losslessness bridge, slice
    coverage, alignment-exactness) are value-tested in
    tests/test_transcripts.py against `bpe_ops.bpe_tokenize`.
    """
    import pandas as pd

    rendered = render_sft(transcripts).select("conv_id", "text")
    spans = sft_loss_spans(transcripts, roles)
    grouped = spans.groupBy("conv_id").agg(
        F.array_sort(
            F.collect_list(F.struct("turn_idx", "start_char", "end_char"))
        ).alias("_spans")
    )
    inp = rendered.join(grouped, "conv_id")
    _state: dict = {}

    def batches(it):
        import numpy as np

        from graphrag_litex_spark.functions.bpe import encode_text, make_encoder
        from graphrag_litex_spark.operators.bpe_ops import _pretokenize

        if "enc" not in _state:
            _state["enc"] = make_encoder(merges)
        enc = _state["enc"]
        for pdf in it:
            conv, turn, st_l, en_l, ntok = [], [], [], [], []
            for conv_id, text, sp in zip(
                pdf["conv_id"], pdf["text"], pdf["_spans"]
            ):
                toks = encode_text(text, enc, _pretokenize)
                n = len(toks)
                tstarts = np.zeros(n + 1, dtype=np.int64)
                if n:
                    np.cumsum(
                        np.fromiter((len(t) for t in toks), np.int64, n),
                        out=tstarts[1:],
                    )
                # char index -> byte offset prefix (utf-8 widths)
                cpre = np.zeros(len(text) + 1, dtype=np.int64)
                if text:
                    np.cumsum(
                        np.fromiter(
                            (len(ch.encode("utf-8")) for ch in text),
                            np.int64,
                            len(text),
                        ),
                        out=cpre[1:],
                    )
                for s in sp:
                    b0 = int(cpre[s["start_char"]])
                    b1 = int(cpre[s["end_char"]])
                    if b1 > b0:
                        st = int(np.searchsorted(tstarts, b0, side="right")) - 1
                        en = int(np.searchsorted(tstarts, b1, side="left"))
                    else:
                        st = en = int(np.searchsorted(tstarts, b0, side="left"))
                    conv.append(conv_id)
                    turn.append(s["turn_idx"])
                    st_l.append(st)
                    en_l.append(en)
                    ntok.append(n)
            yield pd.DataFrame(
                {
                    "conv_id": conv,
                    "turn_idx": turn,
                    "start_tok": st_l,
                    "end_tok": en_l,
                    "n_conv_tokens": ntok,
                }
            )

    return inp.mapInPandas(
        batches,
        "conv_id string, turn_idx long, start_tok long, end_tok long, "
        "n_conv_tokens long",
    )


# Fixed refusal-prefix list (lowercased) for SFT quality gating — the
# standard "assistant declined" heuristics; a fixed list keeps the signal
# deterministic and SQL-expressible verbatim.
REFUSAL_PREFIXES = (
    "i can't",
    "i cannot",
    "i can not",
    "i'm sorry",
    "i am sorry",
    "i'm unable",
    "i am unable",
    "as an ai",
    "i won't",
    "i will not",
)


def conversation_sft_quality(transcripts: DataFrame) -> DataFrame:
    """Per-conversation SFT-quality signals -> one row per conversation:

    - ``n_turns``, ``n_assistant``, ``assistant_frac``
    - ``mean_assistant_chars`` (6dp; 0 when no assistant turns)
    - ``refusal_frac``: assistant turns whose lowercased text starts with
      a :data:`REFUSAL_PREFIXES` entry / assistant turns (a corpus heavy
      in refusals teaches refusing; the standard SFT filter signal)
    - ``alternation_frac``: consecutive-turn pairs whose roles DIFFER /
      pairs (1.0 = strictly alternating dialogue; low values flag
      monologues and concatenation bugs); 0 for single-turn conversations
    - ``ends_with_assistant``: the last turn is the trainable one —
      conversations ending on a user turn contribute a dangling prompt

    One window (role lag, per-conversation) + one hash agg, both on the
    conv_id shuffle; every ratio is an integer division rounded at 6dp so
    the DuckDB oracle matches value-for-value.
    """
    low = F.lower(F.coalesce(F.col("text"), F.lit("")))
    is_refusal = None
    for p in REFUSAL_PREFIXES:
        cond = low.startswith(p)
        is_refusal = cond if is_refusal is None else (is_refusal | cond)
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    base = transcripts.select(
        "conv_id",
        "turn_idx",
        "role",
        F.length(F.coalesce(F.col("text"), F.lit(""))).alias("_len"),
        (F.col("role") == "assistant").cast("int").alias("_is_a"),
        ((F.col("role") == "assistant") & is_refusal).cast("int").alias("_ref"),
        F.lag("role").over(w).alias("_prev_role"),
        F.row_number().over(
            Window.partitionBy("conv_id").orderBy(F.col("turn_idx").desc())
        ).alias("_rev"),
    )
    nz = lambda num, den: F.when(den > 0, num / den).otherwise(F.lit(0.0))  # noqa: E731
    return base.groupBy("conv_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_turns"),
        F.sum("_is_a").cast("long").alias("n_assistant"),
        F.round(nz(F.sum("_is_a"), F.count(F.lit(1))), 6).alias("assistant_frac"),
        F.round(
            nz(F.sum(F.col("_is_a") * F.col("_len")), F.sum("_is_a")), 6
        ).alias("mean_assistant_chars"),
        F.round(nz(F.sum("_ref"), F.sum("_is_a")), 6).alias("refusal_frac"),
        F.round(
            nz(
                F.sum(
                    F.when(
                        F.col("_prev_role").isNotNull()
                        & (F.col("_prev_role") != F.col("role")),
                        1,
                    ).otherwise(0)
                ),
                F.count(F.lit(1)) - 1,
            ),
            6,
        ).alias("alternation_frac"),
        F.max(
            F.when(F.col("_rev") == 1, F.col("_is_a")).otherwise(0)
        ).cast("boolean").alias("ends_with_assistant"),
    )
