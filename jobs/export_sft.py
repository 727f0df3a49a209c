"""spark-submit entry point: transcript table -> SFT training corpus —
the one-command composition of the transcript toolbox (no reference
analog; the reference stops at KG construction):

    transcripts -> quality gates (operators/transcripts.
                   conversation_sft_quality: assistant fraction, refusal
                   rate, alternation, dangling-prompt)
                -> chat-template rendering (render_sft, one sample per
                   conversation, role:tool headers)
                -> [optional] benchmark decontamination
                   (scrub.contaminated_ids over the renderings vs a
                   (doc_id, text) benchmark table; --decontaminate-against)
                -> char-space loss spans (sft_loss_spans, assistant-only)
                -> [optional] packed-bin spans (pack_sft_spans — whole
                   conversations into ~budget-token bins, spans re-based)
                -> [optional] token-space spans (sft_token_spans over a
                   corpus-trained BPE; --token-spans N trains N merges)
                -> parquet tables + JSON report

Output layout under --out:

    samples/       (conv_id, text, n_turns, n_assistant_turns, n_chars)
    loss_spans/    (conv_id, turn_idx, start_char, end_char)
    packed_spans/  (bin_id, conv_id, turn_idx, start_char, end_char)   [--budget]
    token_spans/   (conv_id, turn_idx, start_tok, end_tok, n_conv_tokens) [--token-spans]
    unrolled/      (conv_id, turn_idx, prompt, completion, ...)           [--unroll]
    jsonl/         one record per conversation: {conv_id, text,
                   loss_spans: [{start_char, end_char}...]}               [--jsonl N]
    report.json    gate counts + span accounting

Scale notes (100 TB stance): gates are one conv_id window + hash agg;
rendering shares that shuffle; the gate filter is a semi-join on conv_id
(broadcast when small, AQE otherwise); spans add no new corpus scan. The
JSONL last mile is `jobs/export_shards.py --docs <out>/samples
--id-col conv_id` — samples are (id, text) rows like any curated corpus.

Usage:
    spark-submit --py-files graphrag_litex_spark.zip jobs/export_sft.py \
        --transcripts <parquet> --out <dir> [--min-assistant-frac 0.2]
        [--max-refusal-frac 0.5] [--min-alternation 0.0]
        [--require-ends-assistant] [--budget 2048] [--token-spans 256]
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession
from pyspark.sql import functions as F


def export_sft(
    spark: SparkSession,
    transcripts,
    out_dir: str,
    min_assistant_frac: float = 0.0,
    max_refusal_frac: float | None = None,
    min_alternation: float = 0.0,
    require_ends_assistant: bool = False,
    budget: int | None = None,
    token_spans_merges: int | None = None,
    unroll: bool = False,
    max_prompt_chars: int | None = None,
    decontaminate_against: str | None = None,
    max_contamination: float = 0.0,
    jsonl_shards: int | None = None,
    validate: bool = True,
) -> dict:
    """Programmatic API: writes the layout, returns the report dict.

    ``validate`` (default on) drops non-contiguous conversations first —
    duplicate/missing turn indices are the one input class that breaks
    the span operators' offset determinism (their documented
    precondition), so the exporter enforces the ingest gate itself
    instead of trusting the caller."""
    from graphrag_litex_spark.operators.transcripts import (
        conversation_integrity,
        conversation_sft_quality,
        pack_sft_spans,
        render_sft,
        sft_loss_spans,
        sft_token_spans,
    )

    quarantined = 0
    if validate:
        bad = conversation_integrity(transcripts).where(
            ~F.col("is_contiguous")
        ).select("conv_id")
        quarantined = bad.count()
        if quarantined:
            transcripts = transcripts.join(bad, "conv_id", "left_anti")

    # Checkpoint the (conv-proportional, tiny) gate table: the stats agg
    # and the keep semi-join both consume it, and without materialization
    # each branch would re-scan the whole corpus through the quality
    # window (the profiling.py lesson).
    from graphrag_litex_spark.operators.iterutils import hard_checkpoint, release

    q = hard_checkpoint(conversation_sft_quality(transcripts))
    keep = (F.col("assistant_frac") >= min_assistant_frac) & (
        F.col("alternation_frac") >= min_alternation
    )
    if max_refusal_frac is not None:
        keep = keep & (F.col("refusal_frac") <= max_refusal_frac)
    if require_ends_assistant:
        keep = keep & F.col("ends_with_assistant")
    stats = q.agg(
        F.count(F.lit(1)).alias("convs_in"),
        F.sum(keep.cast("long")).alias("convs_kept"),
    ).first()
    kept_ids = q.where(keep).select("conv_id")
    gated = transcripts.join(kept_ids, "conv_id", "left_semi")

    samples = render_sft(gated)
    contaminated = 0
    if decontaminate_against is not None:
        from graphrag_litex_spark.operators.scrub import contaminated_ids

        bench = spark.read.parquet(decontaminate_against)
        drop_ids = contaminated_ids(
            samples.select(F.col("conv_id").alias("doc_id"), "text"),
            bench,
            max_contamination=max_contamination,
        ).select(F.col("doc_id").alias("conv_id"))
        contaminated = drop_ids.count()
        if contaminated:
            gated = gated.join(drop_ids, "conv_id", "left_anti")
            samples = samples.join(drop_ids, "conv_id", "left_anti")
    samples.write.mode("overwrite").parquet(os.path.join(out_dir, "samples"))
    spans = sft_loss_spans(gated)
    spans.write.mode("overwrite").parquet(os.path.join(out_dir, "loss_spans"))
    report = {
        "convs_quarantined": quarantined,
        "convs_in": int(stats["convs_in"] or 0),
        "convs_kept": int(stats["convs_kept"] or 0),
        "convs_contaminated": contaminated,
        "loss_spans": spark.read.parquet(os.path.join(out_dir, "loss_spans")).count(),
        "gates": {
            "min_assistant_frac": min_assistant_frac,
            "max_refusal_frac": max_refusal_frac,
            "min_alternation": min_alternation,
            "require_ends_assistant": require_ends_assistant,
        },
    }
    if budget is not None:
        pack_sft_spans(gated, budget=budget).write.mode("overwrite").parquet(
            os.path.join(out_dir, "packed_spans")
        )
        packed = spark.read.parquet(os.path.join(out_dir, "packed_spans"))
        report["packed_bins"] = packed.select("bin_id").distinct().count()
        report["budget"] = budget
    if unroll:
        from graphrag_litex_spark.operators.transcripts import unroll_sft

        unroll_sft(gated, max_prompt_chars=max_prompt_chars).write.mode(
            "overwrite"
        ).parquet(os.path.join(out_dir, "unrolled"))
        report["unrolled_samples"] = spark.read.parquet(
            os.path.join(out_dir, "unrolled")
        ).count()
        if max_prompt_chars is not None:
            report["max_prompt_chars"] = max_prompt_chars
    if jsonl_shards is not None:
        # Trainer-stream form: one JSON record per conversation fusing the
        # rendering with its loss spans ({conv_id, text, loss_spans:
        # [{start_char, end_char}...]}) — what an SFT dataloader actually
        # consumes, written directly by executors (df.write.json). The
        # span array is assistant-turn-bounded (session-scale, never
        # corpus-scale); repartition(conv_id) sizes the shard files.
        # Read the just-written stage tables back (same stance as the
        # token_spans branch below): reusing the samples/spans LINEAGES
        # here would re-run the gate/render/decontamination passes over
        # the full corpus a second time.
        samples_disk = spark.read.parquet(os.path.join(out_dir, "samples"))
        spans_disk = spark.read.parquet(os.path.join(out_dir, "loss_spans"))
        spans_arr = spans_disk.groupBy("conv_id").agg(
            F.sort_array(
                F.collect_list(F.struct("start_char", "end_char"))
            ).alias("loss_spans")
        )
        rec = (
            samples_disk.select("conv_id", "text")
            .join(spans_arr, "conv_id", "left")
            .select(
                "conv_id",
                "text",
                F.coalesce(
                    "loss_spans",
                    F.array().cast(
                        "array<struct<start_char:bigint,end_char:bigint>>"
                    ),
                ).alias("loss_spans"),
            )
        )
        rec.repartition(jsonl_shards, "conv_id").write.mode("overwrite").json(
            os.path.join(out_dir, "jsonl")
        )
        report["jsonl_records"] = spark.read.json(
            os.path.join(out_dir, "jsonl")
        ).count()
    if token_spans_merges is not None:
        from graphrag_litex_spark.operators.bpe_ops import train_bpe_merges

        merges = train_bpe_merges(
            spark.read.parquet(os.path.join(out_dir, "samples")),
            text_col="text",
            n_merges=token_spans_merges,
        )
        sft_token_spans(gated, merges).write.mode("overwrite").parquet(
            os.path.join(out_dir, "token_spans")
        )
        report["token_spans"] = spark.read.parquet(
            os.path.join(out_dir, "token_spans")
        ).count()
        report["bpe_merges"] = token_spans_merges
    with open(os.path.join(out_dir, "report.json"), "w") as fh:
        json.dump(report, fh, indent=1)
    release(q)  # every consumer of kept_ids has executed by here
    return report


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description="Transcripts -> SFT training corpus")
    p.add_argument("--transcripts", required=True)
    p.add_argument("--out", required=True)
    p.add_argument("--min-assistant-frac", type=float, default=0.0)
    p.add_argument("--max-refusal-frac", type=float, default=None)
    p.add_argument("--min-alternation", type=float, default=0.0)
    p.add_argument("--require-ends-assistant", action="store_true")
    p.add_argument("--budget", type=int, default=None,
                   help="also emit packed-bin spans at this token budget")
    p.add_argument("--token-spans", type=int, default=None, metavar="N_MERGES",
                   help="also emit token-space spans over an N-merge corpus BPE")
    p.add_argument("--unroll", action="store_true",
                   help="also emit per-assistant-turn (prompt, completion) samples")
    p.add_argument("--max-prompt-chars", type=int, default=None,
                   help="left-truncate unrolled prompts to the most recent N chars")
    p.add_argument("--decontaminate-against", default=None, metavar="PARQUET",
                   help="drop conversations whose rendering shares winnow "
                        "fingerprints with this (doc_id, text) benchmark table")
    p.add_argument("--max-contamination", type=float, default=0.0,
                   help="contamination share above which a conversation drops")
    p.add_argument("--jsonl", type=int, default=None, metavar="N_SHARDS",
                   help="also write trainer-stream JSONL (text + loss spans "
                        "fused per conversation) in N shard files")
    args = p.parse_args(argv)

    from graphrag_litex_spark.session import job_session

    spark = job_session("kgx_sft")

    os.makedirs(args.out, exist_ok=True)
    report = export_sft(
        spark,
        spark.read.parquet(args.transcripts),
        args.out,
        min_assistant_frac=args.min_assistant_frac,
        max_refusal_frac=args.max_refusal_frac,
        min_alternation=args.min_alternation,
        require_ends_assistant=args.require_ends_assistant,
        budget=args.budget,
        token_spans_merges=args.token_spans,
        unroll=args.unroll,
        max_prompt_chars=args.max_prompt_chars,
        decontaminate_against=args.decontaminate_against,
        max_contamination=args.max_contamination,
        jsonl_shards=args.jsonl,
    )
    print(json.dumps(report))
    return 0


if __name__ == "__main__":
    sys.exit(main())
