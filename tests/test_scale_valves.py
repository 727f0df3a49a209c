"""Scale valves: LSH kNN recall, shingle frequency cap, linking block cap,
and the XXH64 replicas (scalar for the golden oracles, numpy lanes for the
MinHash kernel)."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from graphrag_litex_spark.operators import dedup as D
from graphrag_litex_spark.operators import similarity as S
from graphrag_litex_spark.operators.linking import candidate_pairs


def test_xxh64_matches_spark(spark):
    import numpy as np

    from graphrag_litex_spark.functions.xxh64 import (
        hash_int_lanes,
        hash_spans,
        xxhash64_int,
        xxhash64_long,
        xxhash64_str,
        xxhash64_str_int,
    )

    samples = ["", "a", "hello world", "héllo ünïcode", "x" * 100, "日本語テキスト"]
    row = spark.range(1).select(
        *[F.xxhash64(F.lit(s)).alias(f"s{i}") for i, s in enumerate(samples)],
        *[F.xxhash64(F.lit(s), F.lit(i * 7)).alias(f"p{i}") for i, s in enumerate(samples)],
        F.xxhash64(F.lit(123456)).alias("i0"),
        F.xxhash64(F.lit(-42)).alias("i1"),
        F.xxhash64(F.lit(123456).cast("long")).alias("l0"),
        F.xxhash64(F.lit(-42).cast("long")).alias("l1"),
    ).collect()[0]
    encoded = [s.encode("utf-8") for s in samples]
    lengths = np.array([len(b) for b in encoded])
    lanes = hash_spans(
        np.frombuffer(b"".join(encoded), np.uint8), np.cumsum(lengths) - lengths, lengths
    )
    for i, s in enumerate(samples):
        assert row[f"s{i}"] == xxhash64_str(s)
        assert row[f"p{i}"] == xxhash64_str_int(s, i * 7)
        assert row[f"s{i}"] == lanes.view(np.int64)[i]
        assert row[f"p{i}"] == hash_int_lanes(i * 7, lanes).view(np.int64)[i]
    assert row["i0"] == xxhash64_int(123456)
    assert row["i1"] == xxhash64_int(-42)
    assert row["l0"] == xxhash64_long(123456)
    assert row["l1"] == xxhash64_long(-42)


@pytest.fixture(scope="module")
def embeddings(spark, corpus_sf0001):
    # deterministic clustered vectors: 4 clusters of 25 in 16 dims
    import numpy as np

    rng = np.random.RandomState(7)
    centers = rng.randn(4, 16) * 3
    rows = []
    for i in range(100):
        c = i % 4
        rows.append((i, (centers[c] + rng.randn(16) * 0.1).tolist(), c))
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=["vec_id", "embedding", "label"])
    )


def test_knn_join_exact_uses_cross_not_single_key(spark, embeddings):
    explained = (
        S.knn_join(embeddings.limit(5), embeddings, k=2)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" in explained or "BroadcastNestedLoop" in explained
    assert "hashpartitioning(block" not in explained


def test_knn_join_lsh_recall_vs_exact(spark, embeddings):
    left = embeddings.where(F.col("vec_id") < 10)
    exact = {
        (r["left_id"], r["right_id"])
        for r in S.knn_join(left, embeddings, k=3).collect()
    }
    approx = {
        (r["left_id"], r["right_id"])
        for r in S.knn_join_lsh(left, embeddings, k=3, planes=4, probe_bits=1).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.8, f"LSH kNN recall {recall} too low"
    # scores for agreeing pairs must be identical (same cosine expression)
    exact_scores = {
        (r["left_id"], r["right_id"]): r["cosine"]
        for r in S.knn_join(left, embeddings, k=3).collect()
    }
    for r in S.knn_join_lsh(left, embeddings, k=3, planes=4, probe_bits=1).collect():
        key = (r["left_id"], r["right_id"])
        if key in exact_scores:
            assert r["cosine"] == exact_scores[key]


def test_ngram_jaccard_max_doc_freq_drops_boilerplate(spark):
    # every doc shares one boilerplate sentence; only 1&2 are real near-dups
    boiler = "subscribe to our newsletter for updates and offers today"
    real = "alpha beta gamma delta epsilon zeta theta iota kappa lambda mu nu xi omicron pi"
    rows = [
        (1, f"{real} one. {boiler}"),
        (2, f"{real} two. {boiler}"),
        (3, f"completely different text about something else here. {boiler}"),
        (4, f"yet another unrelated document body entirely. {boiler}"),
    ]
    docs = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))
    uncapped = D.ngram_jaccard_pairs(docs, threshold=0.3)
    capped = D.ngram_jaccard_pairs(docs, threshold=0.3, max_doc_freq=2)
    # boilerplate shingles (doc_freq 4) feed the join uncapped, not capped
    pairs_capped = {(r["id_a"], r["id_b"]) for r in capped.collect()}
    assert (1, 2) in pairs_capped  # real near-dup survives the cap
    # the cap only LOWERS jaccard (numerator loses boilerplate overlap)
    unc = {(r["id_a"], r["id_b"]): r["jaccard"] for r in uncapped.collect()}
    cap = {(r["id_a"], r["id_b"]): r["jaccard"] for r in capped.collect()}
    for k, v in cap.items():
        assert v <= unc.get(k, 1.0) + 1e-9
    assert set(cap) <= set(unc)


def test_candidate_pairs_block_cap_refines_giant_block(spark):
    # adversarial: 200 names all starting with "the" -> one quadratic block
    names = [f"the company number {i:04d}" for i in range(200)] + [
        "acme corp",
        "acme corporation",
    ]
    df = spark.createDataFrame(pd.DataFrame({"norm_name": names}))
    exact = candidate_pairs(df, threshold=0.4)
    capped = candidate_pairs(df, threshold=0.4, max_block_size=50)
    # the small block is untouched: acme pair present in both
    def pairs(d):
        return {(r["src"], r["dst"]) for r in d.collect()}

    p_exact, p_capped = pairs(exact), pairs(capped)
    assert ("acme corp", "acme corporation") in p_exact
    assert ("acme corp", "acme corporation") in p_capped
    # refinement only removes pairs, never invents them
    assert p_capped <= p_exact
    # "the company number XXXX" names share the second token -> the refined
    # sub-block keeps them together and they still pair up
    assert any(a.startswith("the company") for a, _ in p_capped)
