"""Capture physical plans for the engine's key operators -> PLANS.md.

Checks the plans have the shapes we designed for (SURVEY.md §4):
  * broadcast hash joins for the canon-map resolution joins (D1),
  * pushed filters / pruned schemas on parquet scans,
  * whole-stage codegen spans over the merge aggregations,
  * no cartesian products anywhere.
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, "/root/repo")

TESTDATA = "/root/testdata/sf0.01"


def plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def main() -> int:
    from pyspark.sql import functions as F

    import __spark_entry__ as E
    from graphrag_litex_spark import datagen
    from graphrag_litex_spark.session import get_spark

    spark = get_spark(cores=8, extra_conf={"spark.ui.showConsoleProgress": "false"})
    kg = E._kg(spark, 0.01)
    paths = datagen.ensure_corpus(0.01)

    sections: list[tuple[str, str, str]] = []  # title, note, plan

    # D1 resolution join: canon map must broadcast.
    raw = kg["raw_edges"]
    canon = kg["canon_map"]
    from graphrag_litex_spark.operators.normalize_ops import norm_name_col

    resolved = (
        raw.withColumn("_n", norm_name_col("source"))
        .join(F.broadcast(canon), F.col("_n") == canon.norm_name)
    )
    p = plan_of(resolved)
    assert "BroadcastHashJoin" in p, "D1 join must broadcast the canon map"
    sections.append(
        ("D1 name->id resolution join", "canon map broadcast; corpus side never shuffles", p)
    )

    # S2 extraction hot path: one MapInArrow over a 3-column pruned scan,
    # no Exchange anywhere before the UDF (map-only stage).
    from graphrag_litex_spark.operators.extraction import extract_items

    tr0 = spark.read.parquet(paths["transcripts"])
    items = extract_items(
        tr0.select(
            "conv_id", "turn_idx", F.col("text")
        )
    )
    p = plan_of(items)
    assert "MapInArrow" in p, "extraction must run via mapInArrow"
    assert "Exchange" not in p, "extraction is map-only: no shuffle before the UDF"
    assert "ReadSchema: struct<conv_id:string,turn_idx:int,text:string>" in p, (
        "extraction scan must prune to exactly (conv_id, turn_idx, text)"
    )
    sections.append(
        (
            "S2 extraction (mapInArrow)",
            "RecordBatch UDF over a pruned 3-column scan; zero Exchange",
            p,
        )
    )

    # Pushed filter + column pruning on a parquet scan.
    tr = spark.read.parquet(paths["transcripts"])
    q = tr.where(F.col("role") == "tool").select("conv_id", "turn_idx")
    p = plan_of(q)
    assert "PushedFilters" in p and "role" in p, "filter must push to the scan"
    sections.append(
        ("Scan pushdown", "role filter pushed to parquet; two-column ReadSchema", p)
    )

    # Salted node merge: two-phase hash aggregate.
    from graphrag_litex_spark.operators.merge import merge_nodes

    nodes_plan = merge_nodes(kg["mentions"].join(F.broadcast(canon), "norm_name"))
    p = plan_of(nodes_plan)
    assert "HashAggregate" in p
    assert "CartesianProduct" not in p
    sections.append(
        ("E1 salted node merge", "partial->final hash aggregates on (key, salt) then key", p)
    )

    # Top-k compiles to TakeOrderedAndProject (no global sort).
    from graphrag_litex_spark.operators.similarity import brute_force_topk

    e = spark.read.parquet(os.path.join(TESTDATA, "embeddings.parquet"))
    qvec = e.where(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    p = plan_of(brute_force_topk(e, list(qvec), k=10))
    assert "TakeOrderedAndProject" in p, "top-k must avoid a global sort"
    sections.append(("G1 top-k cosine", "TakeOrderedAndProject: per-partition heaps", p))

    # MinHash signatures: one Arrow kernel after the JVM normalizer; the LSH
    # candidate join over their checkpoint is an equi (shuffle/broadcast
    # hash) join.
    from graphrag_litex_spark.operators.dedup import (
        minhash_lsh_candidates,
        minhash_signatures,
    )
    from graphrag_litex_spark.operators.iterutils import release

    d = spark.read.parquet(os.path.join(TESTDATA, "documents.parquet"))
    p = plan_of(minhash_signatures(d))
    assert "MapInArrow" in p, "signatures must run via mapInArrow"
    assert "Window" not in p and "Aggregate" not in p, "signatures are map-only"
    sections.append(
        (
            "MinHash signatures",
            "JVM normalizer, then ONE mapInArrow kernel (numpy XXH64 shingle "
            "hashes, 32 minimums and 8 band keys per document); no window, "
            "no aggregate",
            p,
        )
    )
    pairs = minhash_lsh_candidates(d)
    p = plan_of(pairs)
    release(pairs)
    assert "CartesianProduct" not in p and "NestedLoop" not in p
    sections.append(("MinHash-LSH candidates", "banded bucket equi-join, no cross product", p))

    # LSH kNN join: bucket equi-join with multi-probe, no cross product.
    from graphrag_litex_spark.operators.similarity import knn_join, knn_join_lsh

    p = plan_of(knn_join_lsh(e.limit(10), e, k=3, planes=4))
    assert "CartesianProduct" not in p and "NestedLoop" not in p, (
        "LSH kNN must join on bucket ids"
    )
    sections.append(
        ("kNN join (LSH multi-probe)", "bucket equi-join; probes = 1-bit flips", p)
    )

    # Exact kNN join without a block: a REAL cartesian operator (parallel
    # over partition pairs), not the round-1 lit(1) single-reducer funnel.
    p = plan_of(knn_join(e.limit(10), e, k=3))
    assert "hashpartitioning(block" not in p, "exact kNN must not funnel through one key"
    sections.append(
        (
            "kNN join (exact, no block)",
            "cartesian by definition of exact kNN; parallel partition pairs, no single-key exchange",
            p,
        )
    )

    # IVF: assignment is one codegen'd expression (no join, no Python), and
    # probing a materialized index partitioned by list id prunes partitions
    # at the scan (PartitionFilters) — the claim in similarity.ivf_assign.
    import tempfile

    from graphrag_litex_spark.operators.similarity import ivf_assign, ivf_centroids

    cents = ivf_centroids(e, n_centroids=4)
    assigned = ivf_assign(e, cents)
    p = plan_of(assigned)
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p, (
        "IVF assignment must stay JVM-side"
    )
    assert "Join" not in p, "IVF assignment must not join"
    sections.append(
        ("IVF list assignment", "argmax-cosine as one codegen'd expression; no join, no Python", p)
    )
    with tempfile.TemporaryDirectory() as td:
        idx = os.path.join(td, "ivf_index")
        assigned.write.partitionBy("_cid").parquet(idx)
        probe = spark.read.parquet(idx).where(F.col("_cid").isin([0, 2]))
        p = plan_of(probe)
        assert "PartitionFilters" in p and "_cid" in p, (
            "IVF probe must prune index partitions at the scan"
        )
        sections.append(
            (
                "IVF probe over the materialized index",
                "index written partitionBy(_cid): nprobe filter becomes PartitionFilters — non-probed lists never read",
                p,
            )
        )

    # Winnowing fingerprints: the id-hash exchange must sit BELOW the gram
    # explode (shuffle doc rows, not the ~n_chars-per-doc gram stream).
    from graphrag_litex_spark.operators.text_analysis import winnow_fingerprints

    p = plan_of(winnow_fingerprints(d))
    lines = p.splitlines()
    first_gen = min(i for i, l in enumerate(lines) if "Generate" in l)
    assert not any(
        "Exchange" in l for l in lines[:first_gen]
    ), "winnow window must reuse the pre-explode partitioning"
    sections.append(
        (
            "Winnowing fingerprints",
            "doc-row exchange below the explode; window reuses it — gram stream never shuffles",
            p,
        )
    )

    # As-of join: the union+window formulation must shuffle once on the key
    # and never materialize a range product.
    from graphrag_litex_spark.operators.temporal import asof_join

    ev = spark.read.parquet(os.path.join(TESTDATA, "events.parquet"))
    purch = ev.where(F.col("event_type") == "purchase").select("event_id", "user_id", "ts")
    clicks = ev.where(F.col("event_type") == "click").select("event_id", "user_id", "ts")
    p = plan_of(asof_join(purch, clicks, on="user_id", right_cols=["event_id"]))
    assert "CartesianProduct" not in p and "NestedLoop" not in p
    assert p.count("Arguments: hashpartitioning") == 1, "as-of join must shuffle exactly once"
    sections.append(
        (
            "As-of join (union + last-non-null window)",
            "one hash exchange on the key; no range product, no broadcast of the big side",
            p,
        )
    )

    # Interval (range) join: the granule trick must compile to a hash
    # equi-join on (bucket, key) — the naive range predicate would be a
    # BroadcastNestedLoopJoin, dead at scale.
    from graphrag_litex_spark.operators.temporal import interval_join

    iv = purch.select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("start"),
        (F.col("ts") + F.expr("INTERVAL 30 MINUTES")).alias("end"),
    )
    pts = clicks.select(F.col("event_id").alias("click_id"), "user_id", "ts")
    p = plan_of(interval_join(pts, iv, on="user_id", bucket_minutes=30.0))
    assert "CartesianProduct" not in p and "NestedLoop" not in p
    assert "_bucket" in p, "join key must include the time granule"
    sections.append(
        (
            "Interval join (time-granule equi-join)",
            "intervals exploded to granules JVM-side; hash join on (granule, key); exact filter after",
            p,
        )
    )

    # PII scrub: pure projection — zero exchanges, pruned read schema.
    from graphrag_litex_spark.operators.scrub import pii_scrub

    p = plan_of(pii_scrub(d).select("doc_id", "n_pii"))
    assert "Exchange" not in p, "PII scrub must be map-only"
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in p, "scan must prune to id+text"
    sections.append(("PII scrub", "map-only regex projection fused into the pruned scan", p))

    # Sequence packing: the only exchange is the 16-way shard partitioning
    # for the per-shard window — no global sort.
    from graphrag_litex_spark.operators.sampling import pack_greedy

    p = plan_of(pack_greedy(d, budget=256))
    # Two hash exchanges are legal: the scale_out fan-out of a one-file
    # scan (r6) plus the shard-key window partitioning; what must NEVER
    # appear is a single-partition (global-sort) exchange.
    assert 1 <= p.count("Arguments: hashpartitioning") <= 2 and "SinglePartition" not in p, (
        "packing must shard, never serialize through one partition"
    )
    sections.append(
        ("Sequence packing", "sharded window: one hash exchange on the shard key, no global sort", p)
    )

    # Decontamination: the train/test overlap must be an equi-join on the
    # int64 fingerprint — never a text comparison or cross product.
    from graphrag_litex_spark.operators.scrub import decontaminate

    p = plan_of(decontaminate(d.where(F.col("doc_id") < 50), d.where(F.col("doc_id") >= 50)))
    assert "CartesianProduct" not in p and "NestedLoop" not in p
    assert "fp" in p, "join key must be the fingerprint"
    sections.append(
        (
            "Decontamination (winnow-fp overlap)",
            "two winnow passes; ONE equi-join on the int64 fingerprint; per-test agg",
            p,
        )
    )

    # PageRank iteration step: contribution join + re-aggregate, no
    # cartesian, no Python.
    from graphrag_litex_spark.operators.pagerank import pagerank

    edges = kg["edges"].select("src", "dst")
    p = plan_of(pagerank(edges, iters=1))
    assert "CartesianProduct" not in p and "ArrowEvalPython" not in p
    sections.append(
        (
            "PageRank power iteration",
            "adjacency checkpointed once; per-iteration contribution join + vertex-sized re-agg",
            p,
        )
    )

    # Harmonic closeness: the per-hop frontier expansion and the final
    # harmonic aggregate must be pure hash joins/aggs — no cartesian, no
    # Python (the BFS loop itself checkpoints per round; this audits the
    # closing aggregate over the settled distances).
    from graphrag_litex_spark.operators.graph_analytics import harmonic_closeness

    p = plan_of(harmonic_closeness(kg["edges"].select("src", "dst"), n_sources=4))
    assert "CartesianProduct" not in p and "ArrowEvalPython" not in p
    sections.append(
        (
            "Harmonic closeness (multi-source BFS)",
            "frontier-proportional hop joins (checkpointed); integer-exact harmonic agg",
            p,
        )
    )

    # Trigram LM novelty: the model side must BROADCAST (bounded domain,
    # <=37^3 rows at any corpus size) — the occurrence stream never
    # shuffles on the gram key.
    from graphrag_litex_spark.operators.text_analysis import trigram_novelty

    p = plan_of(trigram_novelty(d))
    assert "BroadcastHashJoin" in p, "gram model join must broadcast"
    assert "CartesianProduct" not in p and "ArrowEvalPython" not in p
    sections.append(
        (
            "Trigram LM novelty",
            "bounded-vocabulary model broadcast back over the occurrence stream; per-doc agg",
            p,
        )
    )

    # PQ encode must be a pure projection (no exchange, no Python); ADC
    # top-k must compile to TakeOrderedAndProject over element_at lookups.
    from graphrag_litex_spark.operators.similarity import (
        pq_adc_topk,
        pq_codebooks,
        pq_encode,
    )

    books = pq_codebooks(e, m=8, ksub=8)
    p = plan_of(pq_encode(e, books))
    # One fan-out exchange is legal since r6 (scale_out of a one-file
    # scan); the encode itself must stay a pure JVM projection (no Python).
    assert (
        p.count("Arguments: hashpartitioning") <= 1
        and "SinglePartition" not in p
        and "ArrowEvalPython" not in p
        and "BatchEvalPython" not in p
    ), "encode must be a JVM projection (at most the scale_out fan-out exchange)"
    sections.append(("PQ encode", "m argmin-L2 picks in one codegen projection; no shuffle", p))
    p = plan_of(pq_adc_topk(pq_encode(e, books), [0.0] * 64, books, k=10))
    assert "TakeOrderedAndProject" in p and "ArrowEvalPython" not in p
    sections.append(
        ("PQ ADC top-k", "driver-built distance table; element_at lookups; k-heap, no global sort", p)
    )

    # SemDeDup: centroid assignment must be a pure projection (literal
    # centroids, no join); the within-cluster pairwise check is an
    # EQUI-join on cluster_id — never a cartesian — and nothing runs in
    # Python.
    from graphrag_litex_spark.operators.dedup import semantic_dedup

    p = plan_of(semantic_dedup(e, n_clusters=4, threshold=0.5))
    assert "CartesianProduct" not in p and "ArrowEvalPython" not in p
    assert "cluster_id" in p, "pairwise stage must join on cluster_id"
    sections.append(
        (
            "Semantic dedup (SemDeDup)",
            "codegen'd centroid assignment; window rank + self-equi-join confined to cluster_id",
            p,
        )
    )

    # Quality classifier: the model join must BROADCAST (weight table is
    # bounded by n_buckets at any corpus size); featurization and scoring
    # never touch Python.
    from graphrag_litex_spark.operators.text_analysis import (
        hash_weights,
        quality_classifier_scores,
    )

    p = plan_of(quality_classifier_scores(d, hash_weights(spark, 4096), n_buckets=4096))
    assert "BroadcastHashJoin" in p, "model join must broadcast"
    assert "CartesianProduct" not in p and "ArrowEvalPython" not in p
    sections.append(
        (
            "Quality classifier (hashed-ngram linear model)",
            "codegen featurization; bounded model table broadcast; one per-doc agg",
            p,
        )
    )

    # Triangle counting: degree-ordered wedge join — pure hash joins, no
    # cartesian, no Python, and the wedge enumeration never ships text.
    from graphrag_litex_spark.operators.graph_analytics import (
        link_prediction,
        triangle_counts,
    )

    p = plan_of(triangle_counts(edges))
    assert "CartesianProduct" not in p and "ArrowEvalPython" not in p
    assert "BatchEvalPython" not in p
    sections.append(
        (
            "Triangle counting (degree-ordered)",
            "orientation via (degree,name) key; wedges enumerated at the low-degree end; 3 hash joins",
            p,
        )
    )

    p = plan_of(link_prediction(edges))
    assert "CartesianProduct" not in p and "ArrowEvalPython" not in p
    sections.append(
        (
            "Link prediction (common neighbors)",
            "wedge pairs at the shared neighbor; anti-join drops existing edges; integer-exact Jaccard",
            p,
        )
    )

    # TF-IDF pair scoring: postings self-join on term, everything codegen.
    from graphrag_litex_spark.operators.tfidf import similar_docs

    p = plan_of(similar_docs(d, min_df=2, max_df=250))
    assert "CartesianProduct" not in p and "ArrowEvalPython" not in p
    # (AQE wraps the plan pre-execution, so codegen ids aren't annotated
    # here; shape checks instead.)
    assert "BatchEvalPython" not in p and "HashAggregate" in p
    sections.append(
        (
            "TF-IDF similar docs",
            "df-windowed postings self-join on term (valve bounds fan-out); integer dot/norms",
            p,
        )
    )

    # Incremental dedup: the probe against a persisted index must move no
    # shingle payloads (signatures only) and never cross-product.
    import tempfile

    from graphrag_litex_spark.operators.dedup import (
        build_dedup_index,
        incremental_dedup_pairs,
    )

    idx_dir = tempfile.mkdtemp(prefix="plans_dedup_idx_")
    build_dedup_index(d.where(F.col("doc_id") % 5 != 0), idx_dir)
    p = plan_of(
        incremental_dedup_pairs(d.where(F.col("doc_id") % 5 == 0), idx_dir, est_threshold=0.5)
    )
    assert "CartesianProduct" not in p and "PythonEval" not in p.replace("ArrowEval", "PythonEval")
    assert "shingles" not in p, "incremental probe must not ship shingle arrays"
    sections.append(
        (
            "Incremental dedup probe (persisted index)",
            "band-table equi-join (ids only) + signature-estimator verify; "
            "index reads column-pruned to (id,bucket)/(id,sig); no shingle "
            "payload anywhere in the plan",
            p,
        )
    )

    # Alternating-star CC: one large-star round — groupBy min + self join,
    # all JVM-side.
    from graphrag_litex_spark.operators.cc import _large_star
    from graphrag_litex_spark.operators.iterutils import undirected_simple

    edges_df = d.select(
        (F.col("doc_id") % 97).cast("string").alias("a"),
        (F.col("doc_id") % 89).cast("string").alias("b"),
    )
    p = plan_of(_large_star(undirected_simple(edges_df, "a", "b")))
    assert "CartesianProduct" not in p and "BatchEvalPython" not in p
    sections.append(
        (
            "Alternating-star CC round (large-star)",
            "neighborhood-min aggregate + hash join per round; O(log n) rounds "
            "on any topology (vs diameter for label propagation)",
            p,
        )
    )

    # Duplicate-span removal (ExactSubstr): everything codegen — the window
    # hashing is one fused projection, keeper election one map-side-combined
    # hash agg, the sweeps partition-local windows; never a cartesian, never
    # Python.
    from graphrag_litex_spark.operators.span_dedup import remove_duplicate_spans

    p = plan_of(remove_duplicate_spans(d, k=8))
    assert "CartesianProduct" not in p and "BatchEvalPython" not in p
    assert "xxhash64" in p
    sections.append(
        (
            "Duplicate-span removal (ExactSubstr-style)",
            "fused slice+array_join+xxhash64 window projection -> one "
            "count+min-keeper hash agg on h -> equi-join back -> per-doc "
            "sweep windows (partition-local after repartition(id)); all "
            "whole-stage codegen",
            p,
        )
    )

    # Perceptual image dedup: candidate generation must be a hash equi-join
    # on (band, value) — never a cartesian — and the only Python in the
    # plan is the Arrow-batched decode/hash stage.
    from graphrag_litex_spark.operators.multimodal import (
        dhash_near_dup_pairs,
        image_dhash,
        media_fixture_from_docs,
    )

    p = plan_of(dhash_near_dup_pairs(image_dhash(media_fixture_from_docs(d.limit(200)))))
    assert "CartesianProduct" not in p and "NestedLoop" not in p
    sections.append(
        (
            "Perceptual image near-dup (dHash + pigeonhole bands)",
            "Arrow decode/hash -> banded explode -> hash equi-join on "
            "(band, value) -> codegen bit_count verify; 16 bytes/image "
            "shuffle, payload bytes never leave the scan stage",
            p,
        )
    )

    # Cluster-balanced sampling: assignment is pure codegen (no join), the
    # per-cluster cap one window, the keep-set application a hash join.
    from graphrag_litex_spark.operators.sampling import cluster_balanced_sample

    emb = d.select(
        F.col("doc_id"),
        F.array(*[(F.col("doc_id") % (i + 3)).cast("double") for i in range(4)]).alias("e"),
    )
    p = plan_of(cluster_balanced_sample(d, emb, per_cluster=3, n_clusters=4, vec_col="e"))
    assert "CartesianProduct" not in p and "BatchEvalPython" not in p
    sections.append(
        (
            "Cluster-balanced sampling",
            "codegen argmax-cosine assignment -> one window on the cluster "
            "key -> hash join of the kept-id set; no Python, no cartesian",
            p,
        )
    )

    # Key-skew profiler: one map-side-combined agg + broadcast grand total
    # + TakeOrderedAndProject — the cheapest full-data skew measurement.
    from graphrag_litex_spark.operators.profiling import key_skew_profile

    p = plan_of(key_skew_profile(d, "doc_id", top_n=5))
    # the one-row grand total joins as a BROADCAST nested loop (fine: one
    # row), never a partitioned CartesianProduct
    assert "CartesianProduct" not in p
    assert "TakeOrderedAndProject" in p
    sections.append(
        (
            "Key-skew profiler",
            "hash agg (map-side combined) + broadcast one-row total + "
            "TakeOrderedAndProject (never a full sort)",
            p,
        )
    )

    # Transcript analytics: the per-conversation stats window and aggregate
    # must share ONE conv_id Exchange; prefix dedup is groupBy + a window
    # on the hash — no Python, no cartesian anywhere.
    from graphrag_litex_spark.operators.transcripts import (
        conversation_prefix_dups,
        conversation_stats,
    )

    tr = spark.read.parquet(datagen.ensure_corpus(0.01)["transcripts"])
    stats_df = conversation_stats(tr)
    # Count Exchanges on the executed-plan TREE: explain("formatted") repeats
    # every node name in its detail section, so counting there double-counts.
    tree = stats_df._jdf.queryExecution().executedPlan().toString()
    assert tree.count("Exchange") == 1, "stats window+agg must share one shuffle"
    p = plan_of(stats_df)
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    sections.append(
        (
            "Conversation stats (transcript analytics)",
            "lag window and aggregate both cluster on conv_id -> a single "
            "Exchange serves both; exact-integer micros, no Python",
            p,
        )
    )
    p = plan_of(conversation_prefix_dups(tr, k=3))
    assert "CartesianProduct" not in p and "BatchEvalPython" not in p
    assert "md5" in p
    sections.append(
        (
            "Conversation prefix dedup",
            "turn_idx<k filter pushed to the scan -> groupBy(conv_id) md5 "
            "prefix -> window on prefix_hash (group-bounded partitions)",
            p,
        )
    )

    # Graph-ML training data: co-occurrence must be join-free (one agg
    # Exchange), PPMI's grand total a broadcast 1-row join, snapshot diff
    # one full-outer equi-join, ontology two AQE joins — no cartesians or
    # Python anywhere.
    from graphrag_litex_spark.operators.graph_ml import (
        ppmi_weights,
        walk_cooccurrence,
    )
    from graphrag_litex_spark.operators.ontology import predicate_signatures
    from graphrag_litex_spark.operators.snapshots import snapshot_diff

    walks = spark.createDataFrame(
        [("a -> b -> c -> d",), ("b -> a -> d -> c",)], "path string"
    )
    cooc_df = walk_cooccurrence(walks, window=2)
    tree = cooc_df._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in tree, "pair enumeration must be join-free"
    assert tree.count("Exchange") == 1, "only the pair-count agg shuffles"
    p = plan_of(cooc_df)
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    sections.append(
        (
            "Walk co-occurrence (skip-gram pairs)",
            "pair enumeration is one codegen projection (split -> nested "
            "transform -> explode), NO joins; the single Exchange is the "
            "map-side-combined pair count",
            p,
        )
    )

    ppmi_df = ppmi_weights(cooc_df)
    p = plan_of(ppmi_df)
    assert "CartesianProduct" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    sections.append(
        (
            "PPMI weighting",
            "marginals = one map-side-combined agg rejoined under AQE; the "
            "grand total rides a broadcast 1-row join; ln is codegen",
            p,
        )
    )

    snap_old = spark.createDataFrame(
        [("a", "b", 1.0)], "src string, dst string, strength double"
    )
    snap_new = spark.createDataFrame(
        [("a", "b", 2.0)], "src string, dst string, strength double"
    )
    p = plan_of(snapshot_diff(snap_old, snap_new, ["src", "dst"], ["strength"]))
    assert "CartesianProduct" not in p
    assert p.count("FullOuter") >= 1, "diff is ONE full-outer equi-join"
    sections.append(
        (
            "Snapshot diff (build-over-build change feed)",
            "one full-outer hash join on the pair key; status derivation is "
            "a codegen CASE over null-safe column pairs",
            p,
        )
    )

    tri = spark.createDataFrame(
        [("A", "p", "B")], "subj string, pred string, obj string"
    )
    tys = spark.createDataFrame(
        [("A", "person"), ("B", "tool")], "name string, type string"
    )
    p = plan_of(predicate_signatures(tri, tys))
    assert "CartesianProduct" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    sections.append(
        (
            "Ontology induction (predicate signatures)",
            "distinct triple keys join the entity-cardinality type map "
            "twice (AQE: broadcast when small); final agg keyspace bounded "
            "by |types|^2 x |preds|",
            p,
        )
    )

    # Triangle enumeration (shared by triangle_counts / k_truss rounds):
    # degree-ordered wedges close via hash joins only — never a product.
    from graphrag_litex_spark.operators.graph_analytics import (
        _degrees,
        _triangles,
        neighborhood_function,
        undirected_simple,
        wl_signatures,
    )

    und = undirected_simple(kg["edges"], "src", "dst")
    p = plan_of(_triangles(und, _degrees(und)))
    assert "CartesianProduct" not in p and "NestedLoop" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    sections.append(
        (
            "Triangle enumeration (triangle_counts / k_truss rounds)",
            "degree-ordered orientation: wedges fan out at the low-degree "
            "end (out-degree O(sqrt m), hub-proof); three hash joins, "
            "all codegen",
            p,
        )
    )

    # WL refinement round: adjacency join + sort_array/collect_list agg,
    # both clustered on the vertex key; JVM-side end to end.
    p = plan_of(wl_signatures(kg["edges"], rounds=1))
    assert "CartesianProduct" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    sections.append(
        (
            "WL role-signature round",
            "neighbor-label multiset via sort_array(collect_list) + one "
            "xxhash64 projection; both sides cluster on the vertex key",
            p,
        )
    )

    # HyperBall: the per-vertex ball sketches stay inside ObjectHashAggregate
    # (DataSketches HLL union = register max, map-side combinable).
    nf = neighborhood_function(kg["edges"], max_t=2)
    p = plan_of(nf)
    sections.append(
        (
            "HyperBall neighborhood function (result)",
            "per round ONE adjacency join + hll_union_agg; only max_t+1 "
            "scalars reach the driver (plan shows the collected result "
            "frame — the rounds ran as separate checkpointed jobs)",
            p,
        )
    )

    # Gopher n-gram repetition: one corpus scan generates every n (tagged
    # flatten), then two hash aggs + a conditional-agg pivot; zero Python.
    from graphrag_litex_spark.operators.scrub import ngram_repetition_stats

    docs_df = spark.createDataFrame(
        [(1, "a b a b c"), (2, "x y z")], "doc_id long, text string"
    )
    p = plan_of(ngram_repetition_stats(docs_df))
    assert "MapInArrow" in p, "gram counting must run via mapInArrow"
    assert "CartesianProduct" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "Aggregate" not in p and "Join" not in p, "per-document: no agg, no join"
    # formatted explain names each node twice (tree + details): one scan.
    assert p.count("Scan ") <= 2, "one scan, no restore join"
    sections.append(
        (
            "Gopher n-gram repetition signals",
            "JVM normalizer, then ONE mapInArrow kernel counting every n per "
            "document; fractions are JVM divisions; no aggregate, no join",
            p,
        )
    )

    # SFT rendering + loss spans: one per-conversation window for offsets,
    # one hash agg for the concat; pure codegen end to end.
    from graphrag_litex_spark.operators.transcripts import (
        render_sft,
        sft_loss_spans,
    )

    tr_df = spark.read.parquet(paths["transcripts"])
    p = plan_of(render_sft(tr_df))
    assert "CartesianProduct" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    sections.append(
        (
            "SFT chat-template rendering",
            "per-conversation window (offsets) + one hash agg (ordered "
            "concat via array_sort of (turn_idx, rendered) structs); "
            "no Python, no join",
            p,
        )
    )
    p = plan_of(sft_loss_spans(tr_df))
    assert "CartesianProduct" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    sections.append(
        (
            "SFT loss-mask spans",
            "the SAME running-sum window as the rendering (offsets are "
            "length arithmetic), then a role filter — spans can never "
            "drift from the rendered text",
            p,
        )
    )

    # SFT quality gates: both windows (role lag asc, row_number desc) and
    # the final agg cluster on conv_id — Catalyst plans ONE Exchange.
    from graphrag_litex_spark.operators.transcripts import (
        conversation_sft_quality,
    )

    p = plan_of(conversation_sft_quality(tr_df))
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert p.count("Exchange") <= 2, "windows + agg must share the conv_id shuffle"
    sections.append(
        (
            "SFT conversation quality gates",
            "two windows + partial/final hash agg all clustered on conv_id "
            "-> one Exchange; ratios are codegen integer divisions",
            p,
        )
    )

    # SQ8 quantization: map-only codegen — no Python eval, no Exchange,
    # 2-column pruned scan.
    from graphrag_litex_spark.operators.similarity import sq8_quantize

    emb_df = spark.read.parquet(os.path.join(TESTDATA, "embeddings.parquet"))
    p = plan_of(sq8_quantize(emb_df))
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "Exchange" not in p, "sq8 is a narrow projection"
    assert "ReadSchema: struct<vec_id:bigint,embedding:array<float>>" in p
    sections.append(
        (
            "SQ8 int8 quantization",
            "narrow codegen projection (transform/array_max lambdas): no "
            "Python, no shuffle, pruned scan",
            p,
        )
    )

    # PCA projection: the literal component matrix runs as pure codegen —
    # the only Python in the PCA path is the one-pass moments job.
    from graphrag_litex_spark.operators.pca import pca_model, project_embeddings

    model = pca_model(emb_df, k=4)
    p = plan_of(project_embeddings(emb_df, model, whiten=True))
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "Exchange" not in p
    sections.append(
        (
            "PCA projection (literal component matrix)",
            "aggregate(zip_with(...)) dot products per component, "
            "whole-stage codegen; moments were a separate one-pass "
            "mapInPandas job at fit time",
            p,
        )
    )

    # Z-order key: one codegen bit-interleave expression, map-only.
    from graphrag_litex_spark.operators.zorder import zorder_key

    ev_df = spark.read.parquet(os.path.join(TESTDATA, "events.parquet"))
    p = plan_of(zorder_key(ev_df, ["value", "user_id"], bits=8))
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "Exchange" not in p, "the key is a narrow projection"
    sections.append(
        (
            "Z-order Morton key",
            "shift/and/or bit terms as one codegen expression; the min/max "
            "bounds came from one tiny agg job at construction",
            p,
        )
    )

    # Turn latency: the conv_id window Exchange + a partial-rows aggregate
    # Exchange (output cardinality = role-vocab square) — nothing else.
    from graphrag_litex_spark.operators.transcripts import turn_latency

    p = plan_of(turn_latency(tr_df))
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    # "Exchange (" counts tree nodes once (the formatted detail section
    # repeats each as "(n) Exchange").
    assert p.count("Exchange (") <= 2, "window shuffle + tiny agg shuffle only"
    sections.append(
        (
            "Turn latency profile",
            "one conv_id window + map-side-combined aggregate whose "
            "shuffled rows are partial counts over the key-vocab square",
            p,
        )
    )

    # Related conversations (top-k): everything downstream of the
    # hard-checkpointed index/pair tables — the final plan must contain NO
    # parquet rescan of the mentions (the naive plan scans it 4x).
    from graphrag_litex_spark.operators.transcripts import (
        top_related_conversations,
    )

    mc = (
        kg["mentions"]
        .join(F.broadcast(kg["canon_map"]), "norm_name")
        .select(F.col("source_id").alias("conv_id"), "canonical")
    )
    p = plan_of(top_related_conversations(mc, top_k=3, min_shared=2))
    assert "FileScan parquet" not in p, (
        "index + pairs are checkpointed: no corpus rescan in the final plan"
    )
    sections.append(
        (
            "Related conversations (top-k)",
            "reads only the checkpointed pair table; the mentions distinct "
            "ran exactly once at checkpoint time",
            p,
        )
    )

    with open("/root/repo/PLANS.md", "w") as f:
        f.write("# Physical plans of key operators (auto-generated by tools/explain_plans.py)\n")
        f.write("\nAll asserted properties held when generated.\n")
        for title, note, plan in sections:
            f.write(f"\n## {title}\n\n{note}\n\n```\n{plan.strip()}\n```\n")
    print("PLANS.md written; all plan assertions passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
