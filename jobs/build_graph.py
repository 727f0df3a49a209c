"""spark-submit entry point: build the knowledge graph from a transcripts
table (SURVEY.md §K CLI analog of /root/reference/graphrag_lite_x.py:151-182).

Usage:
    spark-submit --py-files graphrag_litex_spark.zip jobs/build_graph.py \
        --transcripts /path/to/transcripts_parquet \
        --output /path/to/kg_out \
        [--min-strength 0.5] [--no-resume] [--until STAGE] \
        [--question "..."] [--level 0] [--top-k 10]

On a cluster, omit the master override (spark-submit supplies it); locally
this falls back to local[$SPARK_GRAFT_CPUS]. The job is checkpoint-
resumable: re-running with the same input/config skips completed stages.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description="Build a knowledge graph from transcripts")
    p.add_argument("--transcripts", required=True, help="parquet path of the transcripts table")
    p.add_argument("--output", required=True, help="output directory for stage tables")
    p.add_argument("--min-strength", type=float, default=0.5)
    p.add_argument("--no-resume", action="store_true")
    p.add_argument(
        "--append",
        default=None,
        metavar="PATH",
        help="incremental ingest: extract ONLY these new transcripts, append "
        "to the existing extractions stage, then rebuild downstream (old "
        "extraction is never recomputed)",
    )
    p.add_argument("--until", default=None, help="stop after this stage")
    p.add_argument(
        "--report",
        action="store_true",
        help="after the build, print per-stage metrics (sec/rows/files/"
        "bytes/max_part_rows) from the checkpoint manifest as JSON",
    )
    p.add_argument(
        "--validate-ingest",
        action="store_true",
        help="quarantine conversations with non-contiguous turn indices "
        "(duplicates/holes) into a 'quarantine' stage table and exclude "
        "them from the build",
    )
    p.add_argument("--question", default=None, help="optionally answer a question after build")
    p.add_argument(
        "--mode",
        choices=["global", "local", "drift"],
        default="global",
        help="query mode: global = community-summary map/reduce; "
        "local = question-seeded personalized-PageRank entity ranking; "
        "drift = global community selection seeding the local ranking",
    )
    p.add_argument("--level", type=int, default=0)
    p.add_argument("--top-k", type=int, default=10)
    p.add_argument(
        "--attest",
        action="store_true",
        help="print per-stage order-free content checksums (rows + "
        "xxhash64 sum) — diff two builds without reading their data",
    )
    p.add_argument(
        "--redact-pii",
        action="store_true",
        help="redact PII (<EMAIL>/<CC>/<SSN>/<PHONE>/<IPV4>) from turn text "
        "before chunking, so raw identifiers never reach derived stages",
    )
    p.add_argument(
        "--forget",
        default=None,
        help="comma-separated conv_ids to remove from every derived stage "
        "(right-to-be-forgotten) before rebuilding; extraction is rewritten "
        "by filter, never recomputed",
    )
    args = p.parse_args(argv)

    from graphrag_litex_spark.session import job_session

    spark = job_session("kgx_build_graph")

    from graphrag_litex_spark.plans.pipeline import PipelineConfig, run_pipeline

    cfg = PipelineConfig(
        min_strength=args.min_strength,
        validate_ingest=args.validate_ingest,
        redact_pii=args.redact_pii,
    )
    if args.forget or args.append:
        from graphrag_litex_spark.plans.pipeline import KGPipeline

        pipe = KGPipeline(spark, args.transcripts, args.output, config=cfg)
        # Both flags compose: forget FIRST, so an append batch that still
        # contains a just-forgotten conversation is filtered on ingest.
        if args.forget:
            ids = [c.strip() for c in args.forget.split(",") if c.strip()]
            n_gone = pipe.forget_conversations(ids)
            print(f"forgot {n_gone} conversations")
        if args.append:
            n_new = pipe.append_transcripts(args.append)
            print(f"appended {n_new} new turns")
        print("rebuilding downstream stages")
        res = pipe.run(resume=True, until=args.until)
    else:
        res = run_pipeline(
            spark,
            args.transcripts,
            args.output,
            config=cfg,
            resume=not args.no_resume,
            until=args.until,
        )
    for name, df in res.items():
        print(f"stage {name}: written")

    if args.report:
        from graphrag_litex_spark.plans.pipeline import build_report

        rows = [r.asDict() for r in build_report(spark, args.output).collect()]
        print(json.dumps({"stages": rows}, indent=1))

    if args.attest:
        from graphrag_litex_spark.plans.pipeline import stage_checksums

        print(json.dumps({"attestation": stage_checksums(spark, args.output)}, indent=1))

    if args.question and args.mode in ("local", "drift"):
        from graphrag_litex_spark.querying.answer import drift_search, local_search

        search = local_search if args.mode == "local" else drift_search
        ranked = search(res, args.question, k=args.top_k).collect()
        print(
            json.dumps(
                {
                    "question": args.question,
                    "mode": args.mode,
                    "entities": [{"name": r["name"], "score": r["score"]} for r in ranked],
                },
                indent=2,
            )
        )
    elif args.question and "summaries" in res:
        from graphrag_litex_spark.querying.answer import answer_question

        ans = answer_question(
            res["summaries"], args.question, level=args.level, k=args.top_k,
            summary_embeddings=res.get("summary_embeddings"),
        )
        print(json.dumps(ans, indent=2))
    return 0


if __name__ == "__main__":
    sys.exit(main())
