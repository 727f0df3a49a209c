"""spark-submit entry point: export a built knowledge graph as JSONL
shards — the "hand me the graph" deliverable for consumers outside the
Spark warehouse (graph databases, viz tools, notebook analysis, KG-embedding
trainers that stream JSONL).

    built KG out_dir (stage parquet, plans/pipeline.run_pipeline)
        -> per-table JSONL shard dirs (<out>/<table>/part-*.json)
        -> per-table _manifest.json (distributed sha256 + bytes per file,
           the loader-side integrity/resume record — same contract as
           jobs/export_shards.py)
        -> one top-level report.json (rows/files/bytes per table)

Usage:
    spark-submit --py-files graphrag_litex_spark.zip jobs/export_graph.py \
        --kg /path/to/kg_out --out /path/to/export \
        [--tables nodes,edges,claims,communities,summaries,canon_map] \
        [--shard-files 16]

Scale notes (100 TB stance): each table export is one column-pruned scan +
a hash repartition on that table's natural key (stable shard membership —
a row lands in the same shard file on re-export, so downstream diffing
works) + executor-side JSON writes; nothing flows through the driver. The
manifest hash job reads back only the written files via the binaryFile
source, each executor hashing its own shards. Reference parity: the
reference materializes its graph as JSON documents (indexing/
simple_graph_builder.py save path); this is that surface at cluster scale.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# Natural shard keys: stable row->file assignment across re-exports.
_SHARD_KEYS = {
    "nodes": "canonical_name",
    "edges": "src",
    "claims": "claim_id",
    "communities": "community_id",
    "summaries": "community_id",
    "canon_map": "norm_name",
    "transcripts": "conv_id",
    "triples": "conv_id",
}

_DEFAULT_TABLES = ("nodes", "edges", "claims", "communities", "summaries", "canon_map")


def export_graph(
    graph: dict,
    out_path: str,
    tables: tuple[str, ...] | list[str] = _DEFAULT_TABLES,
    shard_files: int = 16,
) -> dict:
    """Programmatic API: write each requested table (present in ``graph``)
    as JSONL shards + manifest under ``out_path``/<table>. Returns the
    report dict (also written to ``out_path``/report.json)."""
    from graphrag_litex_spark.sinks.manifest import write_manifest

    # The report must be writable even when nothing exports (e.g. a table
    # list that this build doesn't have — until="edges" builds carry no
    # claims stage), so the directory can't be left to the table writes.
    os.makedirs(out_path, exist_ok=True)
    report: dict[str, dict] = {}
    for name in tables:
        df = graph.get(name)
        if df is None:
            continue
        key = _SHARD_KEYS.get(name, df.columns[0])
        if key not in df.columns:
            key = df.columns[0]
        tdir = os.path.join(out_path, name)
        df.repartition(shard_files, key).write.mode("overwrite").json(tdir)
        files = write_manifest(
            df.sparkSession,
            tdir,
            {"table": name, "format": "jsonl", "shard_key": key},
        )
        report[name] = {
            "rows": df.count(),
            "files": len(files),
            "bytes": int(sum(e["bytes"] for e in files)),
        }
    with open(os.path.join(out_path, "report.json"), "w") as fh:
        json.dump(report, fh, indent=1)
    return report


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description="Export a built KG as JSONL shards")
    p.add_argument("--kg", required=True, help="built KG out_dir (stage parquet)")
    p.add_argument("--out", required=True, help="output directory")
    p.add_argument(
        "--tables",
        default=",".join(_DEFAULT_TABLES),
        help="comma-separated stage tables to export",
    )
    p.add_argument("--shard-files", type=int, default=16)
    args = p.parse_args(argv)

    from graphrag_litex_spark.session import job_session

    spark = job_session("export_graph")

    from graphrag_litex_spark.sources.tables import open_graph

    graph = open_graph(spark, args.kg)
    tables = tuple(t.strip() for t in args.tables.split(",") if t.strip())
    missing = [t for t in tables if t not in graph]
    if missing:
        print(f"warning: not in this build, skipped: {','.join(missing)}", file=sys.stderr)
    os.makedirs(args.out, exist_ok=True)
    report = export_graph(graph, args.out, tables=tables, shard_files=args.shard_files)
    print(json.dumps(report))
    return 0


if __name__ == "__main__":
    sys.exit(main())
