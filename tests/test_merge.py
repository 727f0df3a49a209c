"""E1/E2/E4 dedup-merge semantics on hand-written fixtures (FIXTURES.md §5)."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from graphrag_litex_spark.operators import merge as merge_ops


@pytest.fixture(scope="module")
def mention_fixture(spark):
    rows = [
        # entity_id, canonical, norm_name, name, type, description, source_id, chunk_id
        ("e1", "acme corp", "acme corp", "Acme Corp", "ORGANIZATION", "short", "c1", "c1_0"),
        ("e1", "acme corp", "acme corp", "Acme Corp", "ORGANIZATION", "a longer description", "c1", "c1_1"),
        ("e1", "acme corp", "acme corporation", "Acme Corporation", "ORGANIZATION", "mid desc", "c2", "c2_0"),
        # duplicate instance (same chunk) must be deduped (E7)
        ("e1", "acme corp", "acme corp", "Acme Corp", "ORGANIZATION", "short", "c1", "c1_0"),
        ("e2", "bob smithers", "bob smithers", "Bob Smithers", "PERSON", "p desc", "c1", "c1_0"),
    ]
    return spark.createDataFrame(
        pd.DataFrame(
            rows,
            columns=[
                "entity_id",
                "canonical",
                "norm_name",
                "name",
                "type",
                "description",
                "source_id",
                "chunk_id",
            ],
        )
    )


@pytest.mark.parametrize("salt_buckets", [1, 16])
def test_merge_nodes_semantics(mention_fixture, salt_buckets):
    out = {
        r["entity_id"]: r
        for r in merge_ops.merge_nodes(mention_fixture, salt_buckets=salt_buckets).collect()
    }
    e1 = out["e1"]
    # Longer description wins (models/entity.py:50-62).
    assert e1["description"] == "a longer description"
    # Display name comes from a canonical-form mention.
    assert e1["name"] == "Acme Corp"
    # Instances deduped: (c1,c1_0), (c1,c1_1), (c2,c2_0).
    assert e1["n_instances"] == 3
    assert e1["n_mentions"] == 4
    assert out["e2"]["n_mentions"] == 1


@pytest.fixture(scope="module")
def edge_fixture(spark):
    rows = [
        # src_id, dst_id, src, dst, pred, strength, source_id, chunk_id
        ("a", "b", "acme corp", "bob smithers", "works with", 0.6, "c1", "c1_0"),
        ("a", "b", "acme corp", "bob smithers", "collaborates closely with", 0.8, "c1", "c1_1"),
        ("a", "b", "acme corp", "bob smithers", "knows", 0.4, "c1", "c1_2"),  # filtered
        ("b", "a", "bob smithers", "acme corp", "works at", 0.9, "c2", "c2_0"),  # ordered pair
    ]
    return spark.createDataFrame(
        pd.DataFrame(
            rows,
            columns=["src_id", "dst_id", "src", "dst", "pred", "strength", "source_id", "chunk_id"],
        )
    )


@pytest.mark.parametrize("salt_buckets", [1, 16])
def test_merge_edges_semantics(edge_fixture, salt_buckets):
    out = {
        (r["src_id"], r["dst_id"]): r
        for r in merge_ops.merge_edges(edge_fixture, salt_buckets=salt_buckets).collect()
    }
    # Ordered pairs are distinct identities (models/knowledge_graph.py:58-63).
    assert set(out) == {("a", "b"), ("b", "a")}
    ab = out[("a", "b")]
    # strength < 0.5 dropped BEFORE merge; avg of {0.6, 0.8}.
    assert abs(ab["strength"] - 0.7) < 1e-9
    # Longest description wins.
    assert ab["pred"] == "collaborates closely with"
    assert ab["n_obs"] == 2
    assert out[("b", "a")]["strength"] == 0.9


def test_merge_claims_semantics(spark):
    rows = [
        ("Acme Corp won an award", ["e1"], "c1", "c1_0"),
        ("acme corp WON an award".title(), ["e2"], "c2", "c2_0"),  # case-insensitive dup
        ("Different claim", ["e1"], "c1", "c1_1"),
    ]
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["content", "entity_ids", "source_id", "chunk_id"])
    )
    out = merge_ops.merge_claims(df).collect()
    assert len(out) == 2
    merged = next(r for r in out if "award" in r["content"].lower())
    assert sorted(merged["entity_ids"]) == ["e1", "e2"]
    assert merged["n_obs"] == 2
