"""Incremental near-dup dedup against a persisted MinHash-LSH index.

The 100 TB contract under test: (old-batch pairs) ∪ (incremental pairs)
must equal a full batch run at the same threshold, and folding the
increment into an existing keeper map must equal a from-scratch rebuild —
i.e. incremental maintenance never changes results, only cost.
"""

import pandas as pd
import pytest

from graphrag_litex_spark.operators.dedup import (
    append_dedup_index,
    build_dedup_index,
    duplicate_keeper_map,
    incremental_dedup_pairs,
    merge_keeper_map,
    minhash_lsh_candidates,
)


def _corpus():
    base = [
        "the quick brown fox jumps over the lazy dog near the river bank today",
        "completely different content about spark dataframes and shuffle exchanges",
        "a third unique document mentioning knowledge graphs and community detection",
        "yet another unrelated piece of text regarding tokenizers and byte pair encoding",
    ]
    docs = []
    for i in range(40):
        docs.append((i, base[i % 4] + f" variant {'x' if i % 7 == 0 else ''}"))
    return pd.DataFrame(docs, columns=["doc_id", "text"])


@pytest.fixture(scope="module")
def frames(spark):
    pdf = _corpus()
    return {
        "all": spark.createDataFrame(pdf),
        "old": spark.createDataFrame(pdf[pdf.doc_id % 5 != 0]),
        "new": spark.createDataFrame(pdf[pdf.doc_id % 5 == 0]),
    }


def _pairs(df, val_col):
    return {(r["id_a"], r["id_b"], r[val_col]) for r in df.collect()}


def test_incremental_union_equals_full_batch(spark, frames, tmp_path):
    full = _pairs(
        minhash_lsh_candidates(frames["all"], jaccard_threshold=0.5, verify="estimate"),
        "jaccard",
    )
    old = _pairs(
        minhash_lsh_candidates(frames["old"], jaccard_threshold=0.5, verify="estimate"),
        "jaccard",
    )
    idx = str(tmp_path / "idx")
    build_dedup_index(frames["old"], idx)
    inc = _pairs(
        incremental_dedup_pairs(frames["new"], idx, est_threshold=0.5), "est_jaccard"
    )
    assert old | inc == full
    assert old & inc == set()  # increment emits only pairs touching new docs


def test_merged_keeper_map_equals_rebuild(spark, frames, tmp_path):
    old_pairs_df = minhash_lsh_candidates(
        frames["old"], jaccard_threshold=0.5, verify="estimate"
    ).select("id_a", "id_b")
    idx = str(tmp_path / "idx")
    build_dedup_index(frames["old"], idx)
    inc_df = incremental_dedup_pairs(frames["new"], idx, est_threshold=0.5).select(
        "id_a", "id_b"
    )
    old_map = duplicate_keeper_map(frames["old"].select("doc_id"), pairs=old_pairs_df)
    merged = merge_keeper_map(frames["all"].select("doc_id"), old_map, inc_df)
    scratch = duplicate_keeper_map(
        frames["all"].select("doc_id"), pairs=old_pairs_df.unionByName(inc_df)
    )
    as_set = lambda df: sorted(
        (r["doc_id"], r["keeper_id"], r["is_keeper"]) for r in df.collect()
    )
    assert as_set(merged) == as_set(scratch)


def test_append_makes_increment_visible_to_next_increment(spark, frames, tmp_path):
    idx = str(tmp_path / "idx")
    build_dedup_index(frames["old"], idx)
    append_dedup_index(frames["new"], idx)
    pdf = _corpus()
    probe = spark.createDataFrame(
        pd.DataFrame(
            [(100, pdf.loc[0, "text"].replace("variant", "variant x variant"))],
            columns=["doc_id", "text"],
        )
    )
    # doc 0's family includes first-increment members (0, 20 are % 5 == 0);
    # after the append the probe must pair with them, not only with old docs.
    inc2 = incremental_dedup_pairs(probe, idx, est_threshold=0.3)
    partners = {r["id_a"] for r in inc2.collect()} | {
        r["id_b"] for r in inc2.collect()
    }
    partners.discard(100)
    assert partners, "probe found no near-dups at all"
    assert any(p % 5 == 0 for p in partners)


def test_retried_append_emits_no_duplicate_pairs(spark, frames, tmp_path):
    """A crash between append_dedup_index's two writes followed by a retry
    leaves duplicate signature (and band) rows per appended id. A double
    append SUPERSETS that state; the incremental probe must still emit each
    (id_a, id_b) exactly once and keep the union-equals-batch contract."""
    idx = str(tmp_path / "idx")
    build_dedup_index(frames["old"], idx)
    append_dedup_index(frames["new"], idx)
    append_dedup_index(frames["new"], idx)  # the retried append
    pdf = _corpus()
    probe = spark.createDataFrame(
        pd.DataFrame(
            [(200, pdf.loc[0, "text"] + " with a small extra tail")],
            columns=["doc_id", "text"],
        )
    )
    inc = incremental_dedup_pairs(probe, idx, est_threshold=0.3)
    rows = [(r["id_a"], r["id_b"]) for r in inc.collect()]
    assert rows, "probe found no near-dups at all"
    assert len(rows) == len(set(rows)), f"duplicate pairs after retried append: {rows}"
    # Partners include first-increment docs (indexed via the appends).
    partners = {a for a, _ in rows} | {b for _, b in rows}
    partners.discard(200)
    assert any(p % 5 == 0 for p in partners)


def test_estimate_verify_mode_batch(spark, frames):
    """verify='estimate' keeps the candidate set and scores with the
    signature estimator: values are exact multiples of 1/num_hashes."""
    est = minhash_lsh_candidates(
        frames["all"], jaccard_threshold=0.5, verify="estimate", num_hashes=32
    )
    vals = [r["jaccard"] for r in est.collect()]
    assert vals
    assert all(abs(v * 32 - round(v * 32)) < 1e-9 for v in vals)
    with pytest.raises(ValueError):
        minhash_lsh_candidates(frames["all"], verify="nope").collect()


def test_unknown_verify_mode_submits_no_job(spark, frames):
    """The mode is checked before the signature checkpoint runs."""
    scheduler = spark.sparkContext._jsc.sc().dagScheduler()
    before = scheduler.nextJobId()
    with pytest.raises(ValueError):
        minhash_lsh_candidates(frames["all"], verify="nope")
    assert scheduler.nextJobId() == before


@pytest.mark.parametrize("verify", ["exact", "estimate"])
def test_release_frees_candidates_checkpoint(spark, frames, verify):
    """The pair frame carries its signature checkpoint: releasing it
    unpins every RDD the call persisted."""
    from graphrag_litex_spark.operators.iterutils import release

    persisted = lambda: set(spark.sparkContext._jsc.getPersistentRDDs().keys())  # noqa: E731
    before = persisted()
    pairs = minhash_lsh_candidates(frames["all"], jaccard_threshold=0.5, verify=verify)
    assert pairs.count() > 0
    assert persisted() - before
    release(pairs)
    assert not persisted() - before


def test_keeper_map_releases_its_candidates_checkpoint(spark, frames):
    """``duplicate_keeper_map`` frees the MinHash checkpoint of the pairs it
    computes itself: with driver-local CC nothing stays pinned, and the
    distributed-CC map (which reads only its own label checkpoint) still
    reads back the same rows after the release."""
    persisted = lambda: set(spark.sparkContext._jsc.getPersistentRDDs().keys())  # noqa: E731
    before = persisted()
    local = duplicate_keeper_map(frames["all"], jaccard_threshold=0.5)
    rows = sorted(local.collect())
    assert not persisted() - before
    assert sum(not r.is_keeper for r in rows) > 0
    dist = duplicate_keeper_map(frames["all"], jaccard_threshold=0.5, cc_driver_threshold=0)
    assert sorted(dist.collect()) == rows
