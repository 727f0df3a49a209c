"""spark-submit entry point: export a curated document corpus as packed
training shards — the last mile of the data pipeline (curate -> pack whole
documents into ~budget-token sequences -> JSONL shards a trainer streams).

    curated docs -> pack_greedy (sharded token-budget bins, deterministic)
                 -> per-bin assembly (docs joined in packing order with an
                    end-of-document separator)
                 -> JSONL shard files (one record per bin:
                    {"bin_id", "n_docs", "n_tokens", "text"})

Usage:
    spark-submit --py-files graphrag_litex_spark.zip jobs/export_shards.py \
        --docs /path/to/curated_parquet --out /path/to/shards \
        [--budget 2048] [--separator $'\\n\\n'] [--shard-files 16]

Scale notes (100 TB stance): packing is the sharded window from
operators/sampling.pack_greedy (no global sort); bin assembly is one
groupBy(bin_id) with an order-preserving sort_array over (rank, text)
structs — each bin holds only ~budget tokens of text, so the collected
struct array is bounded by the budget, never by the corpus. Output files
are written directly by executors (df.write.json), ``--shard-files``
controls file count via repartition on bin_id.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def export_shards(
    docs,
    out_path: str,
    budget: int = 2048,
    separator: str = "\n\n",
    shard_files: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
    shard_hex_digits: int = 1,
):
    """Programmatic API: pack + assemble + write. Returns the report dict."""
    from pyspark.sql import functions as F

    from graphrag_litex_spark.operators.sampling import pack_greedy

    packed = pack_greedy(docs, budget=budget, id_col=id_col, text_col=text_col,
                         shard_hex_digits=shard_hex_digits)
    joined = packed.join(
        docs.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("__text")),
        "doc_id",
    )
    bins = (
        joined.groupBy("bin_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("n_tokens"),
            F.array_join(
                F.transform(
                    # packing order within a bin == doc_id order (the shard
                    # window's ordering), so sort by the id rendered into
                    # the struct prefix
                    F.array_sort(F.collect_list(F.struct(F.col("doc_id"), F.col("__text")))),
                    lambda s: s["__text"],
                ),
                separator,
            ).alias("text"),
        )
    )
    bins.repartition(shard_files, "bin_id").write.mode("overwrite").json(out_path)

    # Integrity manifest (shared loader contract — sinks/manifest.py):
    # distributed per-file bytes + sha256 a trainer's loader verifies
    # against / resumes from.
    from graphrag_litex_spark.sinks.manifest import write_manifest

    file_rows = write_manifest(
        docs.sparkSession,
        out_path,
        {"format": "jsonl", "budget": budget, "separator": separator},
    )

    stats = bins.agg(
        F.count(F.lit(1)).alias("n_bins"),
        F.sum("n_docs").alias("n_docs"),
        F.sum("n_tokens").alias("n_tokens"),
        F.round(F.avg(F.col("n_tokens") / F.lit(float(budget))), 4).alias("mean_fill"),
    ).first()
    return {
        "n_bins": int(stats["n_bins"]),
        "n_docs": int(stats["n_docs"] or 0),
        "n_tokens": int(stats["n_tokens"] or 0),
        "mean_fill": float(stats["mean_fill"] or 0.0),
        "budget": budget,
        "n_files": len(file_rows),
        "out": out_path,
    }


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description="Export packed training shards")
    p.add_argument("--docs", required=True, help="parquet path of the curated documents")
    p.add_argument("--out", required=True, help="output directory for JSONL shards")
    p.add_argument("--budget", type=int, default=2048, help="tokens per packed sequence")
    p.add_argument("--separator", default="\n\n", help="end-of-document separator")
    p.add_argument("--shard-files", type=int, default=16)
    p.add_argument("--shard-hex-digits", type=int, default=1,
                   help="packing shard width: 16^N independent packing streams")
    p.add_argument("--id-col", default="doc_id")
    p.add_argument("--text-col", default="text")
    args = p.parse_args(argv)

    from graphrag_litex_spark.session import job_session

    spark = job_session("kgx_export_shards")

    docs = spark.read.parquet(args.docs)
    report = export_shards(
        docs,
        args.out,
        budget=args.budget,
        separator=args.separator,
        shard_files=args.shard_files,
        id_col=args.id_col,
        text_col=args.text_col,
        shard_hex_digits=args.shard_hex_digits,
    )
    print(json.dumps(report))
    return 0


if __name__ == "__main__":
    sys.exit(main())
