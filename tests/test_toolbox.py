"""Training-data toolbox: dedup, similarity, text analysis, multimodal."""

import math

import pandas as pd
import pytest
from pyspark.sql import functions as F

from graphrag_litex_spark.operators import dedup as D
from graphrag_litex_spark.operators import similarity as S
from graphrag_litex_spark.operators import text_analysis as TA


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "The quick brown fox jumps over the lazy dog", "en"),
        (2, "The quick brown fox jumps over the lazy dog", "en"),  # exact dup of 1
        (3, "the QUICK brown fox, jumps over the lazy dog!!", "en"),  # normalized dup
        (4, "A completely different document about spark pipelines", "en"),
        (5, "The quick brown fox jumps over the lazy cat", "en"),  # near dup of 1
        (6, "und das ist ein anderes dokument mit der sprache", "de"),
        (7, "tiny", "en"),
    ]
    return spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text", "lang"]))


def test_exact_duplicates(docs):
    groups = D.exact_duplicates(docs).collect()
    assert len(groups) == 1
    assert groups[0]["doc_ids"] == [1, 2]


def test_normalized_duplicates(docs):
    groups = D.normalized_duplicates(docs).collect()
    assert len(groups) == 1
    g = groups[0]
    assert g["n_docs"] == 3 and g["representative_id"] == 1


def test_shingle_rows_match_word_shingles(docs, spark):
    """Row formulation == the oracle's word_shingle_set (same distinct
    shingle sets)."""
    from graphrag_litex_spark.oracle_docops import word_shingle_set

    via_rows = {
        (r["id"], r["s"]) for r in D.shingle_rows(docs, "doc_id", "text", 3).collect()
    }
    via_oracle = {
        (r["doc_id"], s)
        for r in docs.collect()
        for s in word_shingle_set(r["text"], 3)
    }
    assert via_rows == via_oracle


def test_ngram_jaccard_pairs(docs):
    pairs = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in D.ngram_jaccard_pairs(docs, threshold=0.2, block_col="lang").collect()
    }
    assert pairs[(1, 2)] == 1.0  # identical docs
    assert pairs[(1, 3)] == 1.0  # normalization collapses case/punct
    assert (1, 5) in pairs and pairs[(1, 5)] < 1.0  # near dup
    assert all(a != 6 and b != 6 for a, b in pairs)  # different lang block


def test_minhash_lsh_finds_near_dups(docs):
    pairs = {
        (r["id_a"], r["id_b"]) for r in D.minhash_lsh_candidates(docs, jaccard_threshold=0.5).collect()
    }
    assert (1, 2) in pairs and (1, 3) in pairs and (2, 3) in pairs
    assert (1, 4) not in pairs


def test_simhash_duplicates(docs):
    groups = D.simhash_duplicates(docs).collect()
    ids = {tuple(g["doc_ids"]) for g in groups}
    assert (1, 2, 3) in ids  # identical after normalization => same signature


def test_cosine_and_topk(spark):
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0]),
        (2, [0.0, 1.0, 0.0]),
        (3, [-1.0, 0.0, 0.0]),
        (4, [0.7, 0.7, 0.0]),
    ]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["vec_id", "embedding"]))
    top = S.brute_force_topk(df.where(F.col("vec_id") != 0), [1.0, 0.0, 0.0], k=2).collect()
    assert [r["vec_id"] for r in top] == [1, 4]
    assert abs(top[0]["cosine"] - 0.9 / math.sqrt(0.82)) < 1e-6


def test_knn_join(spark):
    rows = [(i, [float(i), 1.0]) for i in range(6)]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["vec_id", "embedding"]))
    out = S.knn_join(df.where(F.col("vec_id") < 2), df, k=2).collect()
    by_left = {}
    for r in out:
        by_left.setdefault(r["left_id"], []).append(r["right_id"])
    assert len(by_left[0]) == 2 and len(by_left[1]) == 2
    assert 0 not in by_left[0]  # self excluded


def test_lsh_topk_subset_of_brute(spark):
    import numpy as np

    rng = np.random.RandomState(7)
    rows = [(i, [float(x) for x in rng.randn(16)]) for i in range(200)]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["vec_id", "embedding"]))
    q = rows[0][1]
    approx = S.lsh_bucketed_topk(df.where(F.col("vec_id") != 0), q, k=5, planes=2).collect()
    brute = {
        r["vec_id"]: r["cosine"]
        for r in S.brute_force_topk(df.where(F.col("vec_id") != 0), q, k=200).collect()
    }
    # Approx scores must agree with brute-force scores for the same ids.
    for r in approx:
        assert abs(brute[r["vec_id"]] - r["cosine"]) < 1e-6


def test_lsh_topk_multiprobe_recall(spark):
    """Multi-probe (Hamming-1 bit flips) keeps single-query ANN recall from
    cliffing when the query's own bucket is sparse: recall vs brute force
    must be >= 0.8 at planes=8 and never below the exact-bucket probe."""
    import numpy as np

    rng = np.random.RandomState(13)
    centers = rng.randn(8, 16) * 3
    rows = [
        (i, [float(x) for x in centers[i % 8] + rng.randn(16) * 0.15])
        for i in range(400)
    ]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["vec_id", "embedding"]))
    q = rows[0][1]
    rest = df.where(F.col("vec_id") != 0)
    brute = {r["vec_id"] for r in S.brute_force_topk(rest, q, k=10).collect()}

    def recall(probe_bits):
        got = {
            r["vec_id"]
            for r in S.lsh_bucketed_topk(
                rest, q, k=10, planes=8, probe_bits=probe_bits
            ).collect()
        }
        return len(got & brute) / len(brute), got

    r0, ids0 = recall(0)
    r1, ids1 = recall(1)
    assert r1 >= 0.8, f"multi-probe recall {r1} too low"
    assert r1 >= r0  # probing a superset of buckets can only help
    # probe_bits > 2 expands the full Hamming ball (not capped at radius
    # 2): probing ALL 2^planes buckets must recover brute force exactly.
    r_all, ids_all = recall(8)
    assert r_all == 1.0, f"probe-all recall {r_all} != 1.0"


@pytest.fixture(scope="module")
def rand_vecs(spark):
    import numpy as np

    rng = np.random.RandomState(11)
    rows = [(i, [float(x) for x in rng.randn(16)]) for i in range(1, 301)]
    return (
        rows,
        spark.createDataFrame(pd.DataFrame(rows, columns=["vec_id", "embedding"])),
    )


def test_ivf_probe_all_equals_brute_force(rand_vecs):
    """nprobe == n_centroids covers every inverted list -> exact top-k."""
    rows, df = rand_vecs
    q = rows[0][1]
    ivf = S.ivf_topk(df, q, k=10, n_centroids=4, nprobe=4).collect()
    brute = S.brute_force_topk(df, q, k=10).collect()
    assert [(r["vec_id"], r["cosine"]) for r in ivf] == [
        (r["vec_id"], r["cosine"]) for r in brute
    ]


def test_ivf_topk_scores_and_recall(rand_vecs):
    rows, df = rand_vecs
    q = rows[0][1]
    approx = S.ivf_topk(df, q, k=10, n_centroids=4, nprobe=2).collect()
    brute = S.brute_force_topk(df, q, k=300).collect()
    bmap = {r["vec_id"]: r["cosine"] for r in brute}
    # Scores agree with the exact path for the same ids.
    for r in approx:
        assert abs(bmap[r["vec_id"]] - r["cosine"]) < 1e-6
    # Probing half the lists must recover a reasonable share of the true
    # top-10 (random gaussian corpus; deterministic, so a fixed bound holds).
    top10 = {r["vec_id"] for r in brute[:10]}
    hit = sum(1 for r in approx if r["vec_id"] in top10)
    assert hit >= 4


def test_ivf_permutation_invariance(rand_vecs, spark):
    rows, df = rand_vecs
    q = rows[0][1]
    shuffled = spark.createDataFrame(
        pd.DataFrame(rows[::-1], columns=["vec_id", "embedding"])
    ).repartition(7)
    a = S.ivf_topk(df, q, k=5, n_centroids=4, nprobe=2).collect()
    b = S.ivf_topk(shuffled, q, k=5, n_centroids=4, nprobe=2).collect()
    assert [(r["vec_id"], r["cosine"]) for r in a] == [(r["vec_id"], r["cosine"]) for r in b]


def test_ivf_lloyd_refined_probe_all_still_exact(rand_vecs):
    """Lloyd rounds move the centroids but probe-all stays exact, and every
    list ends non-degenerate on this corpus (assignment total = corpus)."""
    rows, df = rand_vecs
    q = rows[0][1]
    cents = S.ivf_centroids(df, n_centroids=4, lloyd_iters=2)
    assert len(cents) == 4 and all(len(c) == 16 for c in cents)
    ivf = S.ivf_topk(df, q, k=10, n_centroids=4, nprobe=4, centroids=cents).collect()
    brute = S.brute_force_topk(df, q, k=10).collect()
    assert [(r["vec_id"], r["cosine"]) for r in ivf] == [
        (r["vec_id"], r["cosine"]) for r in brute
    ]
    counts = S.ivf_assign(df, cents).groupBy("_cid").count().collect()
    assert sum(r["count"] for r in counts) == 300


def test_ivf_golden_matches_spark(rand_vecs):
    """Differential: pure-Python IVF golden == the distributed plan."""
    from graphrag_litex_spark.oracle_docops import ann_ivf_topk_golden

    rows, df = rand_vecs
    q = rows[0][1]
    golden = ann_ivf_topk_golden(
        [r[0] for r in rows], [r[1] for r in rows], q, k=10, n_centroids=4, nprobe=2
    )
    spark_rows = S.ivf_topk(df, q, k=10, n_centroids=4, nprobe=2).collect()
    assert [(r["vec_id"], r["cosine"]) for r in spark_rows] == list(
        zip(golden.column("vec_id").to_pylist(), golden.column("cosine").to_pylist())
    )


def test_language_id(docs):
    preds = {r["doc_id"]: r["lang_pred"] for r in TA.language_id(docs).collect()}
    assert preds[1] == "en"
    assert preds[6] == "de"
    assert preds[7] == "und"  # no stopwords


def test_quality_features(docs):
    feats = {r["doc_id"]: r for r in TA.quality_features(docs).collect()}
    f1 = feats[1]
    assert f1["n_tokens"] == 9
    assert 0 <= f1["quality_score"] <= 1
    assert feats[3]["punct_ratio"] > 0
    assert feats[7]["n_tokens"] == 1


def test_fingerprint_normalization(docs):
    fp = {r["doc_id"]: r for r in TA.fingerprint(docs).collect()}
    assert fp[1]["fp_raw"] != fp[3]["fp_raw"]
    assert fp[1]["fp_norm"] == fp[3]["fp_norm"]


def test_multimodal_plumbing(docs):
    from graphrag_litex_spark.operators.multimodal import docs_as_media, extract_features

    feats = {r["media_id"]: r for r in extract_features(docs_as_media(docs)).collect()}
    assert feats["7"]["n_bytes"] == 4
    assert len(feats["1"]["byte_histogram"]) == 16
    assert sum(feats["1"]["byte_histogram"]) == feats["1"]["n_bytes"]
    assert feats["1"]["byte_mean"] > 0


def test_multimodal_stub_flag(docs):
    from graphrag_litex_spark.operators.multimodal import docs_as_media, extract_features

    with pytest.raises(Exception, match="NotImplementedError|decode"):
        extract_features(docs_as_media(docs), decode_stub=False).collect()


def test_multimodal_resize(docs):
    from graphrag_litex_spark.operators.multimodal import docs_as_media, resize_media

    out = resize_media(docs_as_media(docs), width=8, height=4).collect()
    assert len(out) == docs.count()
    for r in out:
        assert len(r["payload"]) == 32  # exactly width*height bytes
        assert r["meta"]["width"] == 8 and r["meta"]["height"] == 4


def test_multimodal_frame_sampling(spark):
    from graphrag_litex_spark.operators.multimodal import sample_frames

    rows = [
        ("v1", "video", b"0123456789abcdef", ("video/mp4", None, None, 4000)),
        ("v2", "video", b"XY", ("video/mp4", None, None, None)),
    ]
    media = spark.createDataFrame(
        rows, "media_id string, kind string, payload binary, "
        "meta struct<mime:string,width:int,height:int,duration_ms:int>"
    )
    out = sample_frames(media, every_ms=1000).orderBy("media_id", "frame_idx").collect()
    v1 = [r for r in out if r["media_id"] == "v1"]
    assert [r["frame_idx"] for r in v1] == [0, 1, 2, 3]  # 4000ms / 1000ms
    assert [r["ts_ms"] for r in v1] == [0, 1000, 2000, 3000]
    assert bytes(v1[0]["payload"]) == b"0123"  # deterministic stub slice
    v2 = [r for r in out if r["media_id"] == "v2"]
    assert len(v2) == 1 and v2[0]["ts_ms"] == 0  # no duration -> one frame


def test_bpe_token_count(spark):
    from graphrag_litex_spark.operators.text_analysis import bpe_token_count_col

    rows = [
        (1, "Hello world, it's 2026!"),   # Hello| world|,| it|'s| 2026|! = 7
        (2, "a  b"),                       # a|  |b ... pretokens = 3
        (3, ""),
        (4, None),
    ]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))
    got = {
        r["doc_id"]: r["n"]
        for r in df.select("doc_id", bpe_token_count_col("text").alias("n")).collect()
    }
    assert got == {1: 7, 2: 3, 3: 0, 4: 0}


def test_winnow_fingerprints_golden_and_near_dup(spark):
    from graphrag_litex_spark.operators.text_analysis import winnow_fingerprints
    from graphrag_litex_spark.oracle_docops import winnow_fingerprint_set

    a = "the quick brown fox jumps over the lazy dog and keeps running far away"
    b = "the quick brown fox jumps over the lazy cat and keeps running far away"
    c = "completely unrelated content with different words throughout the body"
    rows = [(1, a), (2, b), (3, c), (4, ""), (5, None)]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))
    got: dict = {}
    for r in winnow_fingerprints(df).collect():
        got.setdefault(r["id"], set()).add(r["fp"])
    # Differential: Spark set == pure-Python golden set, per doc.
    for did, text in rows[:3]:
        assert got[did] == winnow_fingerprint_set(text)
    assert 4 not in got and 5 not in got  # empty/null yield no fingerprints
    # Near-dup docs share most fingerprints; unrelated docs share few.
    jab = len(got[1] & got[2]) / len(got[1] | got[2])
    jac = len(got[1] & got[3]) / len(got[1] | got[3])
    assert jab > 0.5 > jac


def test_ivf_empty_corpus(spark):
    import pytest as _pytest

    empty = spark.createDataFrame(
        pd.DataFrame(columns=["vec_id", "embedding"]),
        schema="vec_id long, embedding array<double>",
    )
    assert S.ivf_topk(empty, [1.0, 0.0], k=3, n_centroids=4, nprobe=2).collect() == []
    with _pytest.raises(ValueError):
        S.ivf_assign(empty, [])


def test_knn_join_lsh_empty_right(spark):
    empty = spark.createDataFrame(
        pd.DataFrame(columns=["vec_id", "embedding"]),
        schema="vec_id long, embedding array<double>",
    )
    assert S.knn_join_lsh(empty, empty, k=2).collect() == []


def test_duplicate_keeper_map_components(spark):
    """Pairs -> CC -> keeper map: chains of near-dups collapse to one keeper
    (natural min of the ORIGINAL id type, not string-min), singletons keep
    themselves."""
    import pandas as pd
    from pyspark.sql import functions as F

    from graphrag_litex_spark.operators.dedup import duplicate_keeper_map

    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": [2, 9, 10, 33, 5], "text": ["x"] * 5})
    )
    # chain 9-10-33 (transitive), singleton 2 and 5; ids chosen so that
    # string-min ("10" < "9") would differ from natural min (9)
    pairs = spark.createDataFrame(
        pd.DataFrame([(9, 10), (10, 33)], columns=["id_a", "id_b"])
    )
    got = {
        r["doc_id"]: (r["keeper_id"], r["is_keeper"])
        for r in duplicate_keeper_map(docs, pairs=pairs).collect()
    }
    assert got == {
        2: (2, True),
        5: (5, True),
        9: (9, True),
        10: (9, False),
        33: (9, False),
    }


def test_duplicate_keeper_map_long_chain_one_keeper(spark):
    """A 40-document near-dup chain (doc_i ~ doc_{i+1}) on the distributed
    CC path is ONE duplicate group: exactly one keeper (doc 0) and no
    max_iter warning. Min-label CC needs a round per hop and would stop at
    max_iter with the chain split into several keepers."""
    import warnings

    import pandas as pd

    from graphrag_litex_spark.operators.dedup import duplicate_keeper_map

    n = 40
    docs = spark.createDataFrame(pd.DataFrame({"doc_id": range(n), "text": ["x"] * n}))
    pairs = spark.createDataFrame(
        pd.DataFrame([(i, i + 1) for i in range(n - 1)], columns=["id_a", "id_b"])
    )
    with warnings.catch_warnings():
        warnings.simplefilter("error", RuntimeWarning)
        rows = duplicate_keeper_map(docs, pairs=pairs, cc_driver_threshold=0).collect()
    assert len(rows) == n
    assert [r["doc_id"] for r in rows if r["is_keeper"]] == [0]
    assert {r["keeper_id"] for r in rows} == {0}


def test_semantic_dedup_golden_matches_spark(rand_vecs):
    """Differential: pure-Python SemDeDup golden == the distributed plan
    (cluster assignment, in-cluster ranks, pairwise maxima, verdicts)."""
    from graphrag_litex_spark.operators.dedup import semantic_dedup
    from graphrag_litex_spark.oracle_docops import semantic_dedup_golden

    rows, df = rand_vecs
    got = semantic_dedup(df, n_clusters=4, threshold=0.5).orderBy("doc_id").collect()
    gold = semantic_dedup_golden(
        [r[0] for r in rows], [r[1] for r in rows], n_clusters=4, threshold=0.5
    )
    assert [
        (r["doc_id"], r["cluster_id"], r["cent_cos"], r["max_dup_cos"], r["kept"])
        for r in got
    ] == list(zip(*[gold.column(c).to_pylist() for c in gold.column_names]))
    # Survival rule sanity: every non-kept doc has a recorded near-dup.
    for r in got:
        if not r["kept"]:
            assert r["max_dup_cos"] is not None and r["max_dup_cos"] >= 0.5


def test_semantic_dedup_keeps_farthest_from_centroid(spark):
    """Two exact duplicates in one cluster: the one ranked EARLIER
    (lower cosine-to-centroid, ties by id) survives — i.e. with identical
    vectors the smaller id is kept and the larger id is dropped."""
    from graphrag_litex_spark.operators.dedup import semantic_dedup

    v = [1.0, 0.0, 0.0, 0.0]
    w = [0.0, 1.0, 0.0, 0.0]
    df = spark.createDataFrame(
        pd.DataFrame(
            [(1, v), (2, v), (3, w)], columns=["vec_id", "embedding"]
        )
    )
    out = {r["doc_id"]: r for r in semantic_dedup(df, n_clusters=2, threshold=0.99).collect()}
    dup_pair = [out[1], out[2]]
    assert sum(1 for r in dup_pair if r["kept"]) == 1
    kept_id = next(r["doc_id"] for r in dup_pair if r["kept"])
    assert kept_id == min(1, 2)
    assert out[3]["kept"]


def test_semantic_dedup_empty_corpus(spark):
    from graphrag_litex_spark.operators.dedup import semantic_dedup

    df = spark.createDataFrame([], "vec_id long, embedding array<double>")
    assert semantic_dedup(df).count() == 0


def test_quality_classifier_golden_matches_spark(docs):
    """Differential: pure-Python fastText-style inference == the broadcast
    model join plan, value-for-value."""
    from graphrag_litex_spark.operators.text_analysis import (
        hash_weights,
        quality_classifier_scores,
    )
    from graphrag_litex_spark.oracle_docops import quality_classifier_golden

    spark = docs.sparkSession
    w = hash_weights(spark, 512)
    got = quality_classifier_scores(docs, w, n_buckets=512).orderBy("doc_id").collect()
    rows = docs.select("doc_id", "text").orderBy("doc_id").collect()
    gold = quality_classifier_golden(
        [r["doc_id"] for r in rows], [r["text"] for r in rows], n_buckets=512
    )
    assert [
        (r["doc_id"], r["n_feats"], r["logit_sum"], r["logit"], r["keep"]) for r in got
    ] == list(zip(*[gold.column(c).to_pylist() for c in gold.column_names]))


def test_quality_classifier_sparse_model(docs):
    """Zero-weight rows can be dropped from the model table (sparse
    deployment): missing buckets contribute 0, scores are unchanged."""
    from graphrag_litex_spark.operators.text_analysis import (
        hash_weights,
        quality_classifier_scores,
    )
    from pyspark.sql import functions as F

    spark = docs.sparkSession
    w = hash_weights(spark, 512)
    dense = quality_classifier_scores(docs, w, n_buckets=512).orderBy("doc_id").collect()
    sparse = (
        quality_classifier_scores(docs, w.where(F.col("weight") != 0), n_buckets=512)
        .orderBy("doc_id")
        .collect()
    )
    assert [tuple(r) for r in dense] == [tuple(r) for r in sparse]


def test_quality_classifier_bigram_features(spark):
    """Feature count = 2*tokens - 1 (unigrams + bigrams); single-token and
    empty docs degrade to 1 feature, never error."""
    from graphrag_litex_spark.operators.text_analysis import hashed_ngram_features

    df = spark.createDataFrame(
        pd.DataFrame(
            [(1, "alpha beta gamma"), (2, "solo"), (3, "")], columns=["doc_id", "text"]
        )
    )
    n = {
        r["doc_id"]: r["n"]
        for r in hashed_ngram_features(df, n_buckets=1 << 18)
        .groupBy("doc_id")
        .sum("n")
        .withColumnRenamed("sum(n)", "n")
        .collect()
    }
    assert n == {1: 5, 2: 1, 3: 1}


def test_pq_golden_matches_spark(rand_vecs):
    """Differential: pure-Python PQ/ADC golden == the distributed plan."""
    from graphrag_litex_spark.oracle_docops import ann_pq_topk_golden

    rows, df = rand_vecs
    q = rows[0][1]
    books = S.pq_codebooks(df, m=4, ksub=8)
    got = S.pq_adc_topk(S.pq_encode(df, books), q, books, k=10).collect()
    gold = ann_pq_topk_golden([r[0] for r in rows], [r[1] for r in rows], q, k=10, m=4, ksub=8)
    assert [(r["vec_id"], r["adist"]) for r in got] == list(
        zip(gold.column("vec_id").to_pylist(), gold.column("adist").to_pylist())
    )


def test_pq_encode_unrolled_equals_folded(rand_vecs):
    """The two expression strategies (unrolled literals vs constant-folded
    codebook + HOF argmin) must emit bit-identical codes — the folded path
    is what runs past the 64 KB codegen cliff (e.g. ksub=256)."""
    _rows, df = rand_vecs
    books = S.pq_codebooks(df, m=4, ksub=8)
    unrolled = {
        r["vec_id"]: list(r["code"])
        for r in S.pq_encode(df, books, unroll_term_limit=10**9).collect()
    }
    folded = {
        r["vec_id"]: list(r["code"])
        for r in S.pq_encode(df, books, unroll_term_limit=0).collect()
    }
    assert unrolled == folded and len(unrolled) > 0


def test_pq_adc_recall_vs_exact_l2(rand_vecs):
    """ADC is an approximation of L2: with m=4 subspaces over 16 dims the
    top-10 by ADC must recover a healthy share of the true L2 top-10
    (deterministic corpus, fixed bound)."""
    import numpy as np

    rows, df = rand_vecs
    q = np.array(rows[0][1])
    true = sorted(rows, key=lambda r: (float(((np.array(r[1]) - q) ** 2).sum()), r[0]))
    top10 = {r[0] for r in true[:10]}
    books = S.pq_codebooks(df, m=4, ksub=16)
    got = {r["vec_id"] for r in S.pq_adc_topk(S.pq_encode(df, books), list(q), books, k=10).collect()}
    assert len(got & top10) >= 4


def test_pq_lloyd_refinement_improves_distortion(rand_vecs):
    """Lloyd rounds must not increase total quantization distortion
    (k-means monotonicity), and refined codebooks still round-trip the
    encode/ADC plan."""
    import numpy as np

    rows, df = rand_vecs

    def distortion(books):
        m, d = len(books), len(books[0][0])
        tot = 0.0
        for _, v in rows:
            for j in range(m):
                sub = np.array(v[j * d : (j + 1) * d])
                tot += min(((sub - np.array(c)) ** 2).sum() for c in books[j])
        return tot

    raw = S.pq_codebooks(df, m=4, ksub=8)
    ref = S.pq_codebooks(df, m=4, ksub=8, lloyd_iters=2)
    assert distortion(ref) <= distortion(raw) + 1e-9
    q = rows[0][1]
    out = S.pq_adc_topk(S.pq_encode(df, ref), q, ref, k=5).collect()
    assert len(out) == 5


def test_ivf_pq_composed(rand_vecs):
    """IVF probe + PQ scoring: probing every list equals the flat PQ path."""
    rows, df = rand_vecs
    q = rows[0][1]
    books = S.pq_codebooks(df, m=4, ksub=8)
    flat = S.pq_adc_topk(S.pq_encode(df, books), q, books, k=10).collect()
    comp = S.ivf_pq_topk(df, q, k=10, n_centroids=4, nprobe=4, m=4, ksub=8).collect()
    assert [(r["vec_id"], r["adist"]) for r in comp] == [
        (r["vec_id"], r["adist"]) for r in flat
    ]


def test_pq_empty_corpus(spark):
    df = spark.createDataFrame([], "vec_id long, embedding array<double>")
    assert S.pq_codebooks(df, m=4, ksub=4) == []
    assert S.ivf_pq_topk(df, [0.0] * 16, m=4, ksub=4).count() == 0


def test_sq8_roundtrip_error_bound_and_envelope(spark):
    """Dequantized coordinates are within scale/2 of the originals; cosine
    survives quantization; zero vectors -> zero codes at scale 0; null
    vectors propagate null; the whole path stays codegen (no Python)."""
    import numpy as np

    rng = np.random.RandomState(3)
    vecs = [[float(x) for x in rng.randn(16)] for _ in range(50)]
    rows = [(i, v) for i, v in enumerate(vecs)]
    rows.append((98, [0.0] * 16))
    rows.append((99, None))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = S.sq8_quantize(df)
    deq = {
        r["vec_id"]: r.asDict()
        for r in S.sq8_dequantize(q, out_col="rec").collect()
    }
    for i, v in enumerate(vecs):
        v32 = np.asarray(v, dtype=np.float32).astype(np.float64)
        got = deq[i]
        assert got["scale"] > 0
        assert all(-127 <= c <= 127 for c in got["q"])
        err = np.abs(np.asarray(got["rec"]) - v32).max()
        assert err <= got["scale"] / 2 + 1e-12
        cos = float(
            v32 @ np.asarray(got["rec"])
            / (np.linalg.norm(v32) * np.linalg.norm(got["rec"]))
        )
        assert cos > 0.999
    assert deq[98]["scale"] == 0.0 and deq[98]["q"] == [0] * 16
    assert deq[99]["scale"] is None and deq[99]["q"] is None
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
