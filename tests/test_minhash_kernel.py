"""The MinHash signature kernel (``dedup.minhash_signatures``) against the
relational formulation it replaced, and its numpy XXH64 against the scalar
replica.

``reference_signatures`` below is that relational formulation, kept only
as the test reference: shingle-window rows, one groupBy with
``num_hashes`` ``min(xxhash64(s, i))`` aggregates and a ``collect_set``,
and the ``concat_ws`` band-key expression.
"""

import json
import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from conftest import plan_nodes, python_nodes
from graphrag_litex_spark.functions import xxh64
from graphrag_litex_spark.operators import dedup as D


def reference_signatures(
    docs, id_col="doc_id", text_col="text", shingle_k=3, num_hashes=32, bands=8
):
    rows = D.shingle_rows(docs, id_col, text_col, shingle_k)
    agg = rows.groupBy("id").agg(
        F.collect_set("s").alias("shingles"),
        *[F.min(F.xxhash64(F.col("s"), F.lit(i))).alias(f"mh_{i}") for i in range(num_hashes)],
    )
    per_band = num_hashes // bands
    buckets = [
        F.xxhash64(
            F.concat_ws(
                ",", *[F.col(f"mh_{b * per_band + r}").cast("string") for r in range(per_band)]
            )
        )
        for b in range(bands)
    ]
    return agg.select(
        "id",
        "shingles",
        F.array(*[F.col(f"mh_{i}") for i in range(num_hashes)]).alias("sig"),
        F.array(*buckets).alias("buckets"),
    )


def test_hash_spans_equals_scalar_for_every_length():
    """Lengths 0..100 cover empty input, the 1-, 4- and 8-byte tails and
    one to three 32-byte stripes; spans are packed back to back in one
    buffer (unaligned starts)."""
    rng = np.random.RandomState(3)
    datas = [rng.randint(0, 256, n).astype(np.uint8).tobytes() for n in range(101)]
    buf = np.frombuffer(b"".join(datas), np.uint8)
    lengths = np.array([len(d) for d in datas])
    starts = np.cumsum(lengths) - lengths
    got = xxh64.hash_spans(buf, starts, lengths)
    assert got.dtype == np.uint64
    assert [int(h) for h in got] == [xxh64.hash_bytes(d) for d in datas]
    # permuted spans: stripe lanes of different lengths interleave
    perm = rng.permutation(len(datas))
    got = xxh64.hash_spans(buf, starts[perm], lengths[perm])
    assert [int(h) for h in got] == [xxh64.hash_bytes(datas[i]) for i in perm]
    seeds = xxh64.hash_spans(buf, starts, lengths)
    for i in (0, 7, 31):
        got = xxh64.hash_int_lanes(i, seeds)
        assert [int(h) for h in got] == [xxh64.hash_int(i, int(s)) for s in seeds]


ADVERSARIAL = [
    (1, None),
    (2, ""),
    (3, "!!"),
    (4, "two words"),
    (5, "one"),
    (6, "İstanbul ÇOK güzel şehir café naïve 日本語"),
    (7, "a b c a b c a b c a b c"),
    (8, "aaaaaaaaaa bbbbbbbbbb cccccccccc dddddddddd eeeeeeeeee"),  # 32-byte shingles
    (9, "aaaaaaaaaa bbbbbbbbbb ccccccccc ddddddddddd"),  # 31 and 33 bytes
    (10, "supercalifragilisticexpialidocious antidisestablishmentarianism "
         "pneumonoultramicroscopicsilicovolcanoconiosis x y"),
    (11, "x" * 100 + " " + "y" * 40 + " z"),
    (12, "  Mixed   CASE\ttabs\nnewlines -- punctuation!! 123 4567  "),
    (13, "the quick brown fox jumps over the lazy dog " * 5),
    (14, "the quick brown fox jumps over the lazy cat " * 5),
]


def _by_id(df):
    return {
        r["id"]: (sorted(r["shingles"]), list(r["sig"]), list(r["buckets"]))
        for r in df.collect()
    }


@pytest.mark.parametrize("id_type", ["bigint", "string"])
def test_kernel_equals_reference_on_adversarial_corpus(spark, id_type):
    docs = spark.createDataFrame(ADVERSARIAL, "doc_id bigint, text string").select(
        F.col("doc_id").cast(id_type).alias("doc_id"), "text"
    )
    got = _by_id(D.minhash_signatures(docs))
    want = _by_id(reference_signatures(docs))
    assert got == want
    key = (lambda i: str(i)) if id_type == "string" else (lambda i: i)
    # NULL text: no row (under ANSI, size(NULL) is NULL and the reference
    # emits none either).
    assert key(1) not in got and len(got) == len(ADVERSARIAL) - 1
    assert got[key(2)][0] == [""] and got[key(3)][0] == [""]
    assert got[key(4)][0] == ["two words"] and got[key(5)][0] == ["one"]
    assert got[key(7)][0] == ["a b c", "b c a", "c a b"]  # duplicates collapsed
    assert any(len(s) >= 32 for s in got[key(11)][0])
    assert all(len(v[1]) == 32 and len(v[2]) == 8 for v in got.values())


def test_kernel_equals_reference_on_other_parameters(spark):
    docs = spark.createDataFrame(ADVERSARIAL, "doc_id bigint, text string")
    params = dict(shingle_k=2, num_hashes=12, bands=5)  # 12 // 5: two unused hashes
    got = _by_id(D.minhash_signatures(docs, **params))
    assert got == _by_id(reference_signatures(docs, **params))
    assert all(len(v[2]) == 5 for v in got.values())


def test_kernel_slices_a_batch_by_text_bytes(spark, monkeypatch):
    """A batch is signed in slices of ~_KERNEL_TEXT_BYTES of text (here a
    few documents each); slicing changes no value."""
    monkeypatch.setattr(D, "_KERNEL_TEXT_BYTES", 64)
    docs = spark.createDataFrame(ADVERSARIAL, "doc_id bigint, text string").coalesce(1)
    assert _by_id(D.minhash_signatures(docs)) == _by_id(reference_signatures(docs))


def test_kernel_on_empty_frame(spark):
    docs = spark.createDataFrame([], "doc_id bigint, text string")
    assert D.minhash_signatures(docs).collect() == []


def test_kernel_equals_reference_on_corpus(spark, corpus_sf0001):
    """Every turn of the synthetic transcripts as a document."""
    turns = spark.read.parquet(corpus_sf0001["transcripts"])
    docs = turns.select(
        F.concat_ws(":", "conv_id", F.col("turn_idx").cast("string")).alias("doc_id"), "text"
    )
    assert _by_id(D.minhash_signatures(docs)) == _by_id(reference_signatures(docs))


def test_kernel_index_equals_reference_index(spark, tmp_path, monkeypatch):
    """A persisted index written through the kernel holds the same rows as
    one written through the relational reference, so indexes built before
    the kernel stay valid (same ``_meta.json`` version)."""
    docs = spark.createDataFrame(ADVERSARIAL, "doc_id bigint, text string")
    kernel_dir, ref_dir = str(tmp_path / "kernel"), str(tmp_path / "ref")
    meta = D.build_dedup_index(docs, kernel_dir)
    monkeypatch.setattr(D, "minhash_signatures", reference_signatures)
    assert D.build_dedup_index(docs, ref_dir) == meta
    assert meta["version"] == 1
    with open(os.path.join(kernel_dir, "_meta.json")) as f:
        assert json.load(f) == meta
    for table in ("signatures", "bands"):
        got = spark.read.parquet(os.path.join(kernel_dir, table))
        want = spark.read.parquet(os.path.join(ref_dir, table))
        assert got.schema == want.schema, table
        assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect())), table


def test_signature_plan_is_one_kernel(spark):
    """Normalization is JVM-side; everything after it is ONE MapInArrow —
    no window, no aggregate."""
    docs = spark.createDataFrame(ADVERSARIAL, "doc_id bigint, text string")
    plan = D.minhash_signatures(docs)._jdf.queryExecution().optimizedPlan()
    assert python_nodes(plan) == ["MapInArrow"]
    nodes = plan_nodes(plan)
    assert "Window" not in nodes
    assert not any("Aggregate" in n for n in nodes), nodes
