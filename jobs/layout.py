"""spark-submit entry point: table-layout maintenance — the OPTIMIZE
command of this engine (Delta ``OPTIMIZE [ZORDER BY]`` / Iceberg
``rewrite_data_files`` analog; the reference has no storage layer at all).

Two maintenance actions over any parquet dataset, each printing a one-line
JSON report:

    compact  — rewrite small files into ~target-MB files, hive partition
               layout preserved (sinks/compact.compact_parquet).
    zorder   — rewrite clustered on the Morton curve of --by columns
               (operators/zorder.write_zordered) so every file carries
               tight min-max stats on EVERY z-column; the report includes
               the before/after footer-level ``width_share`` per column
               (mean rowgroup min-max width / domain — what parquet
               pruning feeds on), so the layout win is measured, not
               assumed.

Safe-swap stance matches compact_parquet: both actions write to a NEW
directory; atomically promoting it over the source is the catalog layer's
job (Iceberg's rewrite commit), not a local-FS rename this tool would
only fake.

Usage:
    python3 jobs/layout.py compact --in <parquet> --out <dir> [--target-mb 256]
    python3 jobs/layout.py zorder  --in <parquet> --out <dir> --by ts,user_id
        [--files 32] [--bits 16]
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description="Parquet layout maintenance")
    sub = p.add_subparsers(dest="cmd", required=True)
    c = sub.add_parser("compact")
    c.add_argument("--in", dest="src", required=True)
    c.add_argument("--out", required=True)
    c.add_argument("--target-mb", type=int, default=256)
    z = sub.add_parser("zorder")
    z.add_argument("--in", dest="src", required=True)
    z.add_argument("--out", required=True)
    z.add_argument("--by", required=True,
                   help="comma-separated z-order columns (numeric/timestamp)")
    z.add_argument("--files", type=int, default=32)
    z.add_argument("--bits", type=int, default=16)
    args = p.parse_args(argv)

    from graphrag_litex_spark.session import job_session

    spark = job_session("kgx_layout")

    if args.cmd == "compact":
        from graphrag_litex_spark.sinks.compact import compact_parquet

        report = compact_parquet(spark, args.src, args.out,
                                 target_mb=args.target_mb)
        print(json.dumps({"action": "compact", **report}))
        return 0

    from graphrag_litex_spark.operators.zorder import (
        layout_quality,
        write_zordered,
    )

    cols = [c.strip() for c in args.by.split(",") if c.strip()]
    df = spark.read.parquet(args.src)
    before = layout_quality(args.src, cols)
    write_zordered(df, args.out, cols, n_files=args.files, bits=args.bits)
    after = layout_quality(args.out, cols)
    rows = spark.read.parquet(args.out).count()
    print(json.dumps({
        "action": "zorder",
        "by": cols,
        "rows": rows,
        "files": args.files,
        "bits": args.bits,
        "width_share_before": before,
        "width_share_after": after,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
