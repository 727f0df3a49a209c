"""Join/aggregation-key skew profiling.

The north-rule calls for skew handled EXPLICITLY: the engine's hot paths
already defuse it (salted merges in operators/merge.py, the linking
giant-block valve, boilerplate-shingle caps, AQE skew-join splitting), but
choosing the valve settings at 100 TB needs a measurement, not a guess.
``key_skew_profile`` is that measurement: one map-side-combined hash
aggregate over the key column — the cheapest possible full-data pass —
returning the heaviest keys, their share of all rows, and the salt-bucket
count that would spread each one to roughly average-partition load.

Reading the output: ``suggested_salt`` = ceil(share * target_partitions)
— the number of salt buckets under which the key's per-bucket row count
drops to ~(total / target_partitions), i.e. the load of an average
partition. 1 means the key needs no salting at that parallelism. The
arithmetic stays in integers (``(n * P + total - 1) div total``) so the
suggestion is engine- and partitioning-exact (the DuckDB oracle reproduces
it bit-for-bit).

At 100 TB: the groupBy shuffles only (key, partial-count) pairs —
map-side combine bounds shuffle volume by distinct keys per task — and the
top-N is a TakeOrderedAndProject, never a full sort.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graphrag_litex_spark.operators.iterutils import checkpoint_scope


def key_skew_profile(
    df: DataFrame,
    key_col: str,
    top_n: int = 20,
    target_partitions: int = 64,
) -> DataFrame:
    """-> (key, n, share, suggested_salt) for the ``top_n`` heaviest keys
    (ties broken by key value, so the cut is deterministic).

    The full-data aggregate runs ONCE: ``counts`` feeds both the grand
    total and the per-key branch of the cross join, so without
    materialization each branch would recompute the whole input scan. An
    eager ``hard_checkpoint`` pins the (distinct-keys-sized, tiny next to
    the input) aggregate; pass the result to ``iterutils.release`` after
    consuming it to free the checkpoint blocks early.
    """
    with checkpoint_scope() as scope:
        counts = scope.checkpoint(
            df.groupBy(F.col(key_col).alias("key")).agg(F.count(F.lit(1)).alias("n"))
        )
        # Grand total via a broadcast one-row cross join — NOT an empty-frame
        # window, which would funnel every key row into a single partition.
        totaled = counts.crossJoin(F.broadcast(counts.agg(F.sum("n").alias("total"))))
        out = (
            totaled.select(
                "key",
                "n",
                F.round(F.col("n") / F.col("total"), 6).alias("share"),
                F.greatest(
                    F.lit(1),
                    F.expr(f"(n * {target_partitions} + total - 1) div total"),
                )
                .cast("int")
                .alias("suggested_salt"),
            )
            .orderBy(F.desc("n"), "key")
            .limit(top_n)
        )
        # The result carries the checkpoint handle: release(result) after the
        # profile is consumed unpersists the cached aggregate.
        return scope.result(out, counts)
