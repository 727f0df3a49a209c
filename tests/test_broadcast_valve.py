"""D1 broadcast size valve: the canon-map resolution joins must hint
F.broadcast only when the map is measured-small, and must produce identical
results (and a BroadcastExchange-free plan) on the shuffle-join path."""

import pandas as pd
from pyspark.sql import functions as F

from graphrag_litex_spark.plans import pipeline as P
from graphrag_litex_spark.plans.pipeline import resolution_join, run_pipeline


def _frames(spark):
    canon = spark.createDataFrame(
        pd.DataFrame(
            {
                "norm_name": ["acme corp", "bob", "carol"],
                "canonical": ["Acme Corp", "Bob", "Carol"],
                "entity_id": ["e1", "e2", "e3"],
            }
        )
    )
    raw = spark.createDataFrame(
        pd.DataFrame(
            {
                "source": ["Acme Corp", "Bob", "Unknown Co"],
                "target": ["Bob", "Carol", "Bob"],
                "pred": ["employs", "knows", "owns"],
            }
        )
    )
    return raw, canon


def _executed_plan(df):
    return df._jdf.queryExecution().executedPlan().toString()


def test_valved_join_has_no_broadcast_exchange(spark):
    """broadcast=False + autoBroadcastJoinThreshold=-1 => shuffle join plan.

    (-1 mimics a canon map too large for AQE to auto-broadcast; without it
    AQE would broadcast the 3-row test frame regardless of the hint.)"""
    raw, canon = _frames(spark)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = _executed_plan(resolution_join(raw, canon, broadcast=False))
        assert "BroadcastExchange" not in plan
        assert "BroadcastHashJoin" not in plan
        plan_hinted = _executed_plan(resolution_join(raw, canon, broadcast=True))
        assert "BroadcastExchange" in plan_hinted  # hint overrides the conf
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_valved_join_same_rows(spark):
    raw, canon = _frames(spark)
    want = {
        (r["src_id"], r["pred"], r["dst_id"])
        for r in resolution_join(raw, canon, broadcast=True).collect()
    }
    got = {
        (r["src_id"], r["pred"], r["dst_id"])
        for r in resolution_join(raw, canon, broadcast=False).collect()
    }
    # inner-join semantics: the "Unknown Co" row is dropped on both paths
    assert got == want == {("e1", "employs", "e2"), ("e2", "knows", "e3")}


def test_pipeline_non_broadcast_path_matches(
    spark, corpus_sf0001, pipeline_sf0001, tmp_path, monkeypatch
):
    """threshold=0 forces the AQE shuffle-join path end-to-end; every
    canon-consuming stage must match the default (broadcast) run."""
    monkeypatch.setattr(P, "_CANON_BROADCAST_BYTES", 0)
    res = run_pipeline(
        spark,
        corpus_sf0001["transcripts"],
        str(tmp_path / "kg_novalve"),
        resume=False,
    )
    for stage, keys in [
        ("triples", ["conv_id", "turn_idx", "subj", "pred", "obj"]),
        ("nodes", ["entity_id", "canonical_name"]),
        ("edges", ["src_id", "dst_id", "pred"]),
        ("claims", ["content"]),
    ]:
        got = {tuple(r[k] for k in keys) for r in res[stage].select(*keys).collect()}
        want = {
            tuple(r[k] for k in keys)
            for r in pipeline_sf0001[stage].select(*keys).collect()
        }
        assert got == want, f"stage {stage} diverged on the non-broadcast path"
