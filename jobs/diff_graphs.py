"""spark-submit entry point: diff two built knowledge graphs.

The ops question after every scheduled rebuild, append, or engine upgrade
is "what actually changed?" — answered here in two passes:

  1. ATTESTATION compare (``plans.pipeline.stage_checksums``): per-stage
     order-free content checksums from both builds. Stages whose checksums
     match are PROVEN identical (no row-level work needed); only stages
     that differ move to pass 2. For a no-op rebuild this is the whole
     diff: one metadata-sized JSON, one scan per stage per side.
  2. EDGE-LEVEL change feed (``operators.snapshots.snapshot_diff``): for
     the edges stage (the graph's core), the full-outer pair-key diff with
     added/removed/changed/stable status, written as parquet (optionally)
     and summarized by status count.

Usage:
    spark-submit --py-files graphrag_litex_spark.zip jobs/diff_graphs.py \
        --old /data/kg_monday --new /data/kg_tuesday \
        [--edge-diff-out /data/kg_diff] [--stages nodes,edges,triples]
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def diff_graphs(
    spark,
    old_dir: str,
    new_dir: str,
    stages: list[str] | None = None,
    edge_diff_out: str | None = None,
    structural: bool = False,
) -> dict:
    """Programmatic API: returns {stages: {name: {old, new, identical}},
    edges: {added, removed, changed, stable}} (edges key only when both
    builds have an edges stage). With ``structural=True`` a third pass
    answers the question the first two can't: when edges DID change, did
    the graph's SHAPE change, or only its vertex names? (A canonicalization
    or normalization upgrade renames entities wholesale — every content
    checksum moves, every edge row reads "changed" — while the structure a
    downstream graph consumer sees is untouched.) Compared via
    `graph_analytics.wl_structure_fingerprint`, the rename-invariant WL
    role-histogram checksum; identical-bytes edge stages skip the pass."""
    from pyspark.sql import functions as F

    from graphrag_litex_spark.operators.snapshots import snapshot_diff
    from graphrag_litex_spark.plans.pipeline import stage_checksums

    a = stage_checksums(spark, old_dir, stages=stages)
    b = stage_checksums(spark, new_dir, stages=stages)
    report: dict = {"stages": {}}
    for name in sorted(set(a) | set(b)):
        ea, eb = a.get(name), b.get(name)
        stale = bool((ea or {}).get("stale") or (eb or {}).get("stale"))
        entry = {
            "old": ea,
            "new": eb,
            # A stale side holds data its own build no longer trusts (e.g.
            # pre-forget stages before the rebuild) — matching checksums
            # there prove nothing about the CURRENT builds, so stale
            # stages are never reported identical.
            "identical": bool(
                not stale
                and ea
                and eb
                and ea["checksum"] == eb["checksum"]
                and ea["rows"] == eb["rows"]
            ),
        }
        if stale:
            entry["stale"] = True
        report["stages"][name] = entry

    edges_entry = report["stages"].get("edges", {})
    if edges_entry.get("stale"):
        # Row-level diffing stale data would overwrite --edge-diff-out
        # with counts the report itself declares untrustworthy; emit only
        # the flag — rebuild the stale side, then diff.
        report["edges"] = {"stale": True}
    elif edges_entry.get("old") and edges_entry.get("new") and not edges_entry["identical"]:
        old_e = spark.read.parquet(os.path.join(old_dir, "edges"))
        new_e = spark.read.parquet(os.path.join(new_dir, "edges"))
        keys = ["src", "dst"]
        vals = [c for c in old_e.columns if c not in keys and c in new_e.columns]
        diff = snapshot_diff(old_e, new_e, keys, vals)
        if edge_diff_out:
            diff.write.mode("overwrite").parquet(edge_diff_out)
            diff = spark.read.parquet(edge_diff_out)
        counts = {
            r["status"]: r["n"]
            for r in diff.groupBy("status").agg(F.count(F.lit(1)).alias("n")).collect()
        }
        report["edges"] = {
            s: int(counts.get(s, 0)) for s in ("added", "removed", "changed", "stable")
        }
    elif edges_entry.get("identical"):
        n = edges_entry["old"]["rows"]
        report["edges"] = {"added": 0, "removed": 0, "changed": 0, "stable": n}

    if structural and not edges_entry.get("stale"):
        if edges_entry.get("identical"):
            # Byte-identical edges are trivially structure-identical; no
            # graph pass needed.
            report["structure"] = {"role_equivalent": True, "note": "edges identical"}
        elif edges_entry.get("old") and edges_entry.get("new"):
            from graphrag_litex_spark.operators.graph_analytics import (
                wl_structure_fingerprint,
            )

            fpo = wl_structure_fingerprint(
                spark.read.parquet(os.path.join(old_dir, "edges"))
            )
            fpn = wl_structure_fingerprint(
                spark.read.parquet(os.path.join(new_dir, "edges"))
            )
            report["structure"] = {
                "wl_fingerprint_old": fpo,
                "wl_fingerprint_new": fpn,
                "role_equivalent": fpo == fpn,
            }
    return report


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description="Diff two built knowledge graphs")
    p.add_argument("--old", required=True, help="older build's stage-table dir")
    p.add_argument("--new", required=True, help="newer build's stage-table dir")
    p.add_argument("--stages", default=None, help="comma-separated stage subset")
    p.add_argument(
        "--edge-diff-out", default=None, help="write the edge change feed here (parquet)"
    )
    p.add_argument(
        "--structural",
        action="store_true",
        help="also compare rename-invariant WL structure fingerprints of the edge graphs",
    )
    args = p.parse_args(argv)

    from graphrag_litex_spark.session import job_session

    spark = job_session("diff_graphs")

    stages = (
        [s.strip() for s in args.stages.split(",") if s.strip()] if args.stages else None
    )
    report = diff_graphs(
        spark,
        args.old,
        args.new,
        stages=stages,
        edge_diff_out=args.edge_diff_out,
        structural=args.structural,
    )
    print(json.dumps(report))
    return 0


if __name__ == "__main__":
    sys.exit(main())
