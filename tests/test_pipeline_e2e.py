"""Differential end-to-end gate: Spark pipeline vs single-process oracle.

BASELINE.json: P/R >= 0.95 on normalized (subj, pred, obj) triples vs the
reference extractor (here: the deterministic extractor run single-process,
SURVEY.md §7 "Hard parts" #1); per-turn text equality under stable
(conv_id, turn_idx) ordering (input_hint invariant).
"""

import pyarrow.parquet as pq
import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F


def _triple_set(rows):
    return {(r[0], r[1], r[2]) for r in rows}


def test_triples_match_golden_pr(pipeline_sf0001, corpus_sf0001):
    got = _triple_set(
        pipeline_sf0001["triples"].select("subj", "pred", "obj").distinct().collect()
    )
    golden = pq.read_table(corpus_sf0001["golden_triples"]).to_pandas()
    want = _triple_set(golden[["subj", "pred", "obj"]].drop_duplicates().itertuples(index=False))
    tp = len(got & want)
    precision = tp / len(got) if got else 0.0
    recall = tp / len(want) if want else 0.0
    assert precision >= 0.95, f"precision {precision:.4f}"
    assert recall >= 0.95, f"recall {recall:.4f}"
    # With identical extractor + order-free linking both should be exact.
    assert precision == 1.0 and recall == 1.0


def test_triple_multiset_row_counts(pipeline_sf0001, corpus_sf0001):
    golden = pq.read_table(corpus_sf0001["golden_triples"])
    assert pipeline_sf0001["triples"].count() == golden.num_rows


def test_canon_map_matches_oracle(pipeline_sf0001, corpus_sf0001):
    got = {
        r["norm_name"]: r["canonical"]
        for r in pipeline_sf0001["canon_map"].collect()
    }
    golden = pq.read_table(corpus_sf0001["golden_canon_map"]).to_pandas()
    want = dict(zip(golden["norm_name"], golden["canonical"]))
    assert got == want


def test_claims_match_oracle(pipeline_sf0001, corpus_sf0001):
    golden = pq.read_table(corpus_sf0001["golden_claims"]).to_pandas()
    # Pipeline claims are content-deduped (E4); compare distinct contents.
    want = {c.lower() for c in golden["content"]}
    got = {r["content"].lower() for r in pipeline_sf0001["claims"].collect()}
    assert got == want


def test_per_turn_text_equality(spark, pipeline_sf0001, corpus_sf0001):
    """Reassembling chunks under (conv_id, turn_idx) reproduces the input
    text byte-for-byte (north-rule per-row invariant)."""
    chunks = pipeline_sf0001["chunks"]
    # Window-ordered reassembly must reproduce the generator's transcript.
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    ordered = chunks.withColumn("rn", F.row_number().over(w))
    misordered = ordered.where(F.col("rn") != F.col("turn_idx") + 1).count()
    assert misordered == 0
    # Strict per-row check: join back to the raw input on (conv_id, turn_idx).
    raw = spark.read.parquet(corpus_sf0001["transcripts"]).select(
        "conv_id", "turn_idx", F.col("text").alias("raw_text")
    )
    diff = (
        chunks.join(raw, ["conv_id", "turn_idx"])
        .where(F.col("text") != F.col("raw_text"))
        .count()
    )
    assert diff == 0
    # chunk ids are the deterministic reference shape source_id||'_'||n.
    bad_ids = chunks.where(
        F.col("chunk_id") != F.concat_ws("_", "conv_id", "turn_idx")
    ).count()
    assert bad_ids == 0


def test_nodes_unique_and_consistent(pipeline_sf0001):
    nodes = pipeline_sf0001["nodes"]
    assert nodes.count() == nodes.select("entity_id").distinct().count()
    # Every edge endpoint exists in nodes (D3 validation).
    edges = pipeline_sf0001["edges"]
    n = nodes.select(F.col("entity_id"))
    missing_src = edges.join(n, edges.src_id == n.entity_id, "left_anti").count()
    assert missing_src == 0


def test_edge_strength_filter(pipeline_sf0001):
    assert pipeline_sf0001["edges"].where(F.col("strength") < 0.5).count() == 0
    assert pipeline_sf0001["triples"].where(F.col("strength") < 0.5).count() == 0


def test_permutation_invariance_of_triples(spark, corpus_sf0001, tmp_path):
    """Re-shuffling the input rows leaves the emitted triple set unchanged —
    the order-independence property the reference lacks (SURVEY.md Q5)."""
    from graphrag_litex_spark.plans.pipeline import run_pipeline

    src = spark.read.parquet(corpus_sf0001["transcripts"])
    shuffled_path = str(tmp_path / "shuffled")
    src.orderBy(F.xxhash64("conv_id", "turn_idx")).coalesce(3).write.parquet(shuffled_path)
    res = run_pipeline(
        spark, shuffled_path, str(tmp_path / "out"), resume=False, until="triples"
    )
    got = _triple_set(res["triples"].select("subj", "pred", "obj").distinct().collect())
    golden = pq.read_table(corpus_sf0001["golden_triples"]).to_pandas()
    want = _triple_set(golden[["subj", "pred", "obj"]].drop_duplicates().itertuples(index=False))
    assert got == want


def test_resume_is_noop(spark, corpus_sf0001, tmp_path):
    import os
    import time

    from graphrag_litex_spark.plans.pipeline import run_pipeline

    out = str(tmp_path / "kg")
    run_pipeline(spark, corpus_sf0001["transcripts"], out, resume=True, until="nodes")
    t0 = time.time()
    res = run_pipeline(spark, corpus_sf0001["transcripts"], out, resume=True, until="nodes")
    assert time.time() - t0 < 15
    assert res["nodes"].count() > 0
    assert os.path.exists(os.path.join(out, "_manifest.json"))

    # Per-partition lineage (north rule): every completed stage records one
    # (file, rows, bytes) entry per output partition, consistent with its
    # aggregate metrics and with a max_part_rows skew indicator.
    import json

    manifest = json.load(open(os.path.join(out, "_manifest.json")))
    for stage in ("extractions", "canon_map", "nodes"):
        entry = manifest[stage]
        parts = entry["partitions"]
        assert len(parts) == entry["files"] > 0
        assert sum(p["rows"] for p in parts) == entry["rows"]
        assert sum(p["bytes"] for p in parts) == entry["bytes"]
        assert entry["max_part_rows"] == max(p["rows"] for p in parts)
        assert all(p["file"].endswith(".parquet") for p in parts)

    # Queryable manifest faces: build_report agrees with the raw manifest,
    # build_lineage explodes the per-partition detail consistently.
    from graphrag_litex_spark.plans.pipeline import build_lineage, build_report

    report = {r["stage"]: r.asDict() for r in build_report(spark, out).collect()}
    lineage = build_lineage(spark, out)
    for stage in ("extractions", "canon_map", "nodes"):
        assert report[stage]["rows"] == manifest[stage]["rows"]
        assert report[stage]["files"] == manifest[stage]["files"]
        assert report[stage]["sec"] >= 0.0
        lin = lineage.where(F.col("stage") == stage).collect()
        assert sum(r["rows"] for r in lin) == manifest[stage]["rows"]
        assert len(lin) == manifest[stage]["files"]


def test_incremental_append_equals_full_rebuild(spark, corpus_sf0001, tmp_path_factory):
    """Batch incrementality: pipeline(half A) + append(half B) must produce
    the SAME graph as pipeline(A+B), with extraction never recomputed for A."""
    import pyarrow.parquet as pq

    from graphrag_litex_spark.plans.pipeline import KGPipeline, run_pipeline

    d = tmp_path_factory.mktemp("incr")
    t = pq.read_table(corpus_sf0001["transcripts"])
    half = t.num_rows // 2
    a_dir, b_dir = str(d / "a"), str(d / "b")
    import os

    os.makedirs(a_dir), os.makedirs(b_dir)
    pq.write_table(t.slice(0, half), os.path.join(a_dir, "part-0.parquet"))
    pq.write_table(t.slice(half), os.path.join(b_dir, "part-0.parquet"))

    out = str(d / "kg_incr")
    run_pipeline(spark, a_dir, out, resume=False, until="claims")
    pipe = KGPipeline(spark, a_dir, out)
    n_new = pipe.append_transcripts(b_dir)
    assert n_new == t.num_rows - half
    assert pipe.append_transcripts(b_dir) == 0  # idempotent

    res = pipe.run(resume=True, until="claims")
    got = {
        (r["conv_id"], r["turn_idx"], r["subj"], r["pred"], r["obj"])
        for r in res["triples"].collect()
    }
    want = {
        (r["conv_id"], r["turn_idx"], r["subj"], r["pred"], r["obj"])
        for r in spark.read.parquet(corpus_sf0001["golden_triples"]).collect()
    }
    assert got == want


def test_append_cli_flag(spark, corpus_sf0001, tmp_path_factory):
    """jobs/build_graph.py --append drives the same incremental path from
    the CLI surface: build on half A, append half B, triples == golden."""
    import os

    import pyarrow.parquet as pq

    from jobs import build_graph

    d = tmp_path_factory.mktemp("incr_cli")
    t = pq.read_table(corpus_sf0001["transcripts"])
    half = t.num_rows // 2
    a_dir, b_dir = str(d / "a"), str(d / "b")
    os.makedirs(a_dir), os.makedirs(b_dir)
    pq.write_table(t.slice(0, half), os.path.join(a_dir, "part-0.parquet"))
    pq.write_table(t.slice(half), os.path.join(b_dir, "part-0.parquet"))
    out = str(d / "kg")

    rc = build_graph.main(
        ["--transcripts", a_dir, "--output", out, "--until", "claims", "--no-resume"]
    )
    assert rc == 0
    rc = build_graph.main(
        ["--transcripts", a_dir, "--output", out, "--append", b_dir, "--until", "claims"]
    )
    assert rc == 0
    got = {
        (r["conv_id"], r["turn_idx"], r["subj"], r["pred"], r["obj"])
        for r in spark.read.parquet(os.path.join(out, "triples")).collect()
    }
    want = {
        (r["conv_id"], r["turn_idx"], r["subj"], r["pred"], r["obj"])
        for r in spark.read.parquet(corpus_sf0001["golden_triples"]).collect()
    }
    assert got == want


def test_pipeline_survives_adversarial_transcripts(spark, tmp_path):
    """Robustness: null/empty text, duplicate (conv_id, turn_idx), unicode,
    a very long turn, and a null tool/ts column must not crash any stage;
    outputs stay consistent (triples reference only canonicalized names)."""
    import datetime

    import pandas as pd

    from graphrag_litex_spark.plans.pipeline import run_pipeline

    ts = datetime.datetime(2026, 1, 1)
    rows = [
        ("c1", 0, "user", "Alice Johnson works at Acme Corp.", None, ts),
        ("c1", 1, "assistant", None, "search", ts),               # null text
        ("c1", 2, "user", "", None, ts),                            # empty text
        ("c1", 2, "user", "Acme Corp acquired SkyBeam.", None, ts),  # dup turn_idx
        ("c2", 0, "user", "naïve Café Über GmbH partners with ACME CORP!", None, ts),
        ("c2", 1, "user", "日本語テキスト with Dr. Emma Larsson speaking.", None, ts),
        ("c3", 0, "user", ("Bob Stone met Alice Johnson. " * 2000), None, ts),  # ~60k chars
        ("c4", 0, "tool", "{}", None, None),                         # null ts
    ]
    pdf = pd.DataFrame(
        rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    )
    src = str(tmp_path / "adversarial_transcripts")
    spark.createDataFrame(pdf).write.parquet(src)

    res = run_pipeline(spark, src, str(tmp_path / "kg"), resume=False)
    counts = {k: res[k].count() for k in ("chunks", "nodes", "triples", "claims")}
    assert counts["chunks"] == 8  # every row kept, dup turn included
    assert counts["nodes"] > 0 and counts["triples"] > 0
    # Every triple endpoint resolves to a canonical node name.
    node_names = {r["canonical_name"] for r in res["nodes"].collect()}
    for r in res["triples"].collect():
        assert r["subj"] in node_names and r["obj"] in node_names
    # Unicode surface forms canonicalize (NFKD fold): the two ACME variants
    # in c2/c1 share one canonical entity.
    canon = {r["norm_name"]: r["canonical"] for r in res["canon_map"].collect()}
    assert canon.get("acme corp") == canon.get("acme corporation", canon.get("acme corp"))


def test_pipeline_on_empty_corpus(spark, tmp_path):
    """An empty transcripts table (fresh incremental setup) must flow
    through every stage producing empty outputs, not crash (round-2 fix:
    _enforce_min_size indexed into an empty collect)."""
    import pandas as pd

    from graphrag_litex_spark.plans.pipeline import run_pipeline

    src = str(tmp_path / "empty_transcripts")
    spark.createDataFrame(
        pd.DataFrame(columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"]),
        schema="conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    ).write.parquet(src)
    res = run_pipeline(spark, src, str(tmp_path / "kg"), resume=False)
    assert {k: df.count() for k, df in res.items()} == {k: 0 for k in res}


def test_append_crash_leaves_stage_invalidated(spark, corpus_sf0001, tmp_path_factory):
    """Crash-safety (write-ahead intent marker): if the append dies after
    the pending marker but before commit, resume must NOT trust the
    extractions stage, and a retried append must refuse (no double-append
    of the same items)."""
    import json
    import os

    import pyarrow.parquet as pq

    from graphrag_litex_spark.plans.pipeline import KGPipeline, run_pipeline

    d = tmp_path_factory.mktemp("crash")
    t = pq.read_table(corpus_sf0001["transcripts"])
    half = t.num_rows // 2
    a_dir, b_dir = str(d / "a"), str(d / "b")
    os.makedirs(a_dir), os.makedirs(b_dir)
    pq.write_table(t.slice(0, half), os.path.join(a_dir, "part-0.parquet"))
    pq.write_table(t.slice(half), os.path.join(b_dir, "part-0.parquet"))

    out = str(d / "kg")
    run_pipeline(spark, a_dir, out, resume=False, until="extractions")
    pipe = KGPipeline(spark, a_dir, out)

    # Simulate a crash between the intent marker and the append write by
    # failing extraction itself (the marker is persisted first).
    import graphrag_litex_spark.operators.extraction as X

    orig = X.extract_items
    try:
        def boom(*a, **k):
            raise RuntimeError("injected crash")

        X.extract_items = boom
        with pytest.raises(RuntimeError):
            pipe.append_transcripts(b_dir)
    finally:
        X.extract_items = orig

    manifest = json.load(open(os.path.join(out, "_manifest.json")))
    assert manifest["extractions"]["fingerprint"].startswith("pending-append:")
    assert b_dir not in manifest.get("extra_inputs", [])
    # Retry refuses (stage not up-to-date) instead of double-appending.
    with pytest.raises(ValueError):
        pipe.append_transcripts(b_dir)
    # run(resume=True) rebuilds extractions from scratch and recovers: the
    # rebuilt stage equals a clean half-A build (no duplicated items).
    res = pipe.run(resume=True, until="extractions")
    n_after = res["extractions"].count()
    clean = run_pipeline(
        spark, a_dir, str(d / "kg_clean"), resume=False, until="extractions"
    )
    assert n_after == clean["extractions"].count()
    # ...and the append path works again afterwards.
    assert pipe.append_transcripts(b_dir) == t.num_rows - half


def test_auto_block_valve_pipeline_paths(spark, corpus_sf0001, tmp_path):
    """The linking valve auto-enables from the distinct-name count: with a
    tiny auto threshold and a generous block cap the canon map is identical
    to the exact default; an aggressive explicit cap can only SPLIT
    components (refinement drops candidate pairs, never invents them)."""
    from graphrag_litex_spark.plans.pipeline import PipelineConfig, run_pipeline

    def canon(cfg, name):
        res = run_pipeline(
            spark,
            corpus_sf0001["transcripts"],
            str(tmp_path / name),
            config=cfg,
            resume=False,
            until="canon_map",
        )
        return {r["norm_name"]: r["canonical"] for r in res["canon_map"].collect()}

    base = canon(PipelineConfig(), "base")
    auto = canon(
        PipelineConfig(link_auto_valve_names=5, link_auto_block_size=10_000), "auto"
    )
    assert auto == base  # valve on, blocks under the cap -> exact semantics
    hard = canon(PipelineConfig(link_max_block_size=1), "hard")
    assert set(hard) == set(base)
    # every refined component is contained in an exact component
    by_canon_hard: dict = {}
    for n, c in hard.items():
        by_canon_hard.setdefault(c, set()).add(n)
    for members in by_canon_hard.values():
        assert len({base[m] for m in members}) == 1


def test_parquet_stats_lineage_truncation(tmp_path, monkeypatch):
    """Beyond the cap, per-file lineage is dropped (manifest stays bounded)
    but aggregates and the skew indicator are still exact."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from graphrag_litex_spark.plans import pipeline as P

    d = tmp_path / "stage"
    d.mkdir()
    for i, n in enumerate([5, 1, 3]):
        pq.write_table(pa.table({"x": list(range(n))}), d / f"part-{i}.parquet")

    full = P._parquet_stats(str(d))
    assert full["rows"] == 9 and full["files"] == 3 and full["max_part_rows"] == 5
    assert [p["rows"] for p in full["partitions"]] == [5, 1, 3]

    monkeypatch.setattr(P, "_LINEAGE_MAX_FILES", 2)
    capped = P._parquet_stats(str(d))
    assert capped["rows"] == 9 and capped["max_part_rows"] == 5
    assert "partitions" not in capped and capped["partitions_truncated"] is True


def test_community_warm_start_refresh(spark, corpus_sf0001, tmp_path):
    """community_warm_start: invalidate the communities stage (what an
    append does) and re-run with the flag on — the rebuild seeds level-0
    LPA from the stale stage on disk and produces a full, valid membership
    whose modularity matches the cold build's."""
    import json
    import os

    from graphrag_litex_spark.operators.communities import modularity
    from graphrag_litex_spark.plans.pipeline import PipelineConfig, run_pipeline

    out = str(tmp_path / "kg_warm")
    cold = run_pipeline(spark, corpus_sf0001["transcripts"], out, resume=False)
    q_cold = modularity(cold["communities"], cold["edges"], level=0)
    n_members = cold["communities"].where("level = 0").count()

    # Simulate the post-append state: stage parquet present, fingerprint
    # stale -> the resumed run must rebuild communities (and only then).
    mpath = os.path.join(out, "_manifest.json")
    manifest = json.load(open(mpath))
    manifest["communities"]["fingerprint"] = "stale"
    json.dump(manifest, open(mpath, "w"))

    warm = run_pipeline(
        spark,
        corpus_sf0001["transcripts"],
        out,
        config=PipelineConfig(community_warm_start=True),
        resume=True,
    )
    assert warm["communities"].where("level = 0").count() == n_members
    q_warm = modularity(warm["communities"], warm["edges"], level=0)
    assert q_warm >= 0.8 * q_cold, f"warm Q={q_warm:.4f} vs cold Q={q_cold:.4f}"


def test_graph_tail_jobs_and_partial_resume(spark, corpus_sf0001, tmp_path):
    """Below the community valve the graph tail (communities -> stats ->
    summaries -> summary_embeddings) submits one collect plus the four
    stage writes, each a write job and the read-back's schema job — not
    the ~40 tiny jobs of the operator-by-operator path. Job ids come from
    the DAGScheduler's counter; the resumed prefix's own jobs are measured
    by a no-op resume and subtracted. A later stage rebuilt on resume
    derives from the stored communities stage and reproduces its table."""
    import os
    import shutil

    from graphrag_litex_spark.plans.pipeline import KGPipeline, stage_checksums

    out = str(tmp_path / "kg")
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    pipe = KGPipeline(spark, corpus_sf0001["transcripts"], out)
    pipe.run(resume=False, until="claims")
    j0 = dag.nextJobId()
    pipe.run(resume=True, until="claims")
    j1 = dag.nextJobId()
    res = pipe.run(resume=True)
    j2 = dag.nextJobId()
    tail_jobs = (j2 - j1) - (j1 - j0)
    assert tail_jobs <= 1 + 4 * 2, tail_jobs
    assert res["summary_embeddings"].count() == res["summaries"].count() > 0

    tail = ["communities", "community_stats", "summaries", "summary_embeddings"]
    before = stage_checksums(spark, out, tail)
    shutil.rmtree(os.path.join(out, "summaries"))
    pipe.run(resume=True)
    assert stage_checksums(spark, out, tail) == before


def test_concurrent_build_lock(spark, corpus_sf0001, tmp_path):
    """Two drivers building one out_dir interleave overwrite-mode stage
    writes into silent corruption; the advisory _BUILD_LOCK makes the second
    build fail loudly instead. Stale locks from dead local pids are stolen."""
    import os

    import pytest as _pytest

    from graphrag_litex_spark.plans.pipeline import KGPipeline

    out = str(tmp_path / "kg")
    pipe = KGPipeline(spark, corpus_sf0001["transcripts"], out)
    lock = os.path.join(out, "_BUILD_LOCK")

    # A live holder (this very process) blocks the build with a clear error.
    with open(lock, "w") as f:
        f.write(str(os.getpid()))
    with _pytest.raises(RuntimeError, match="being built by pid"):
        pipe.run(resume=True, until="chunks")
    os.unlink(lock)

    # A dead holder's lock is stolen and the build proceeds; the lock is
    # released afterwards.
    with open(lock, "w") as f:
        f.write("999999999")
    res = pipe.run(resume=True, until="chunks")
    assert res["chunks"].count() > 0
    assert not os.path.exists(lock)

    # append_transcripts takes the same lock.
    with open(lock, "w") as f:
        f.write(str(os.getpid()))
    with _pytest.raises(RuntimeError, match="being built by pid"):
        pipe.append_transcripts(str(tmp_path / "nonexistent"))
    os.unlink(lock)
