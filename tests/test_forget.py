"""Incremental deletion (right-to-be-forgotten): forget_conversations must
remove conversations from every derived stage WITHOUT re-extraction, be
idempotent, survive crashes without resurrecting data, and exclude
forgotten conversations from later appends.
"""

from __future__ import annotations

import json
import os

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from graphrag_litex_spark.plans.pipeline import KGPipeline, run_pipeline


def _triple_keys(res):
    return {
        (r["conv_id"], r["turn_idx"], r["subj"], r["pred"], r["obj"])
        for r in res["triples"].collect()
    }


def _manifest(out):
    with open(os.path.join(out, "_manifest.json")) as fh:
        return json.load(fh)


def test_forget_equals_filtered_rebuild_without_reextraction(
    spark, corpus_sf0001, tmp_path_factory
):
    d = tmp_path_factory.mktemp("forget")
    out = str(d / "kg")
    res = run_pipeline(
        spark, corpus_sf0001["transcripts"], out, resume=False, until="claims"
    )
    ids = [
        r["conv_id"]
        for r in res["triples"].select("conv_id").distinct().orderBy("conv_id").limit(2).collect()
    ]

    pipe = KGPipeline(spark, corpus_sf0001["transcripts"], out)
    assert pipe.forget_conversations(ids) == 2
    assert pipe.forget_conversations(ids) == 0  # idempotent
    ext_entry = _manifest(out)["extractions"]
    assert not ext_entry["fingerprint"].startswith("pending")

    res2 = pipe.run(resume=True, until="claims")
    # run() rebuilt downstream stages but did NOT touch extraction
    assert _manifest(out)["extractions"] == ext_entry

    # equivalence: same graph as a from-scratch build on the filtered corpus
    t = pq.read_table(corpus_sf0001["transcripts"])
    keep = pc.invert(pc.is_in(t.column("conv_id"), value_set=pa.array(ids)))
    fdir = str(d / "filtered")
    os.makedirs(fdir)
    pq.write_table(t.filter(keep), os.path.join(fdir, "part-0.parquet"))
    res3 = run_pipeline(spark, fdir, str(d / "kg_scratch"), resume=False, until="claims")
    got = _triple_keys(res2)
    assert got == _triple_keys(res3)
    assert not {c for (c, *_rest) in got} & set(ids)
    # mentions view (over the rewritten item table) is clean too
    assert (
        res2["mentions"].where(res2["mentions"]["source_id"].isin(ids)).count() == 0
    )


def test_forget_crash_recovery_does_not_resurrect(
    spark, corpus_sf0001, tmp_path_factory
):
    d = tmp_path_factory.mktemp("forget_crash")
    out = str(d / "kg")
    run_pipeline(spark, corpus_sf0001["transcripts"], out, resume=False, until="claims")
    pipe = KGPipeline(spark, corpus_sf0001["transcripts"], out)
    res = pipe.run(resume=True, until="claims")
    victim = (
        res["triples"].select("conv_id").distinct().orderBy("conv_id").limit(1).collect()[0]["conv_id"]
    )
    assert pipe.forget_conversations([victim]) == 1

    # Simulate a crash mid-rewrite: the write-ahead marker is on disk but
    # the stage is not trusted. The rebuild must re-extract WITH the
    # exclusion applied — the forgotten conversation stays gone.
    man = _manifest(out)
    man["extractions"]["fingerprint"] = "pending-forget:crashed"
    with open(os.path.join(out, "_manifest.json"), "w") as fh:
        json.dump(man, fh)
    res2 = pipe.run(resume=True, until="claims")
    assert victim not in {c for (c, *_rest) in _triple_keys(res2)}
    assert victim in man["forgotten_conv_ids"]


def test_stage_checksums_attest_determinism(spark, corpus_sf0001, tmp_path_factory):
    """Two independent builds of the same input must attest identically;
    any row change must move the checksum. The attestation is the cheap
    cross-build determinism proof (order-free xxhash64 sum per stage)."""
    from graphrag_litex_spark.plans.pipeline import stage_checksums

    d = tmp_path_factory.mktemp("attest")
    out_a, out_b = str(d / "a"), str(d / "b")
    run_pipeline(spark, corpus_sf0001["transcripts"], out_a, resume=False, until="claims")
    run_pipeline(spark, corpus_sf0001["transcripts"], out_b, resume=False, until="claims")
    a = stage_checksums(spark, out_a)
    b = stage_checksums(spark, out_b)
    assert a == b and a  # identical, and non-empty
    # chunks/mentions/raw_* are views — only materialized stages attest
    assert {"extractions", "canon_map", "nodes", "edges", "triples"} <= set(a)

    # sensitivity: drop one row from a stage copy -> different checksum
    nodes = spark.read.parquet(os.path.join(out_a, "nodes"))
    victim = nodes.orderBy("canonical_name").limit(1)
    mut_root = str(d / "mut")
    nodes.join(victim.select("canonical_name"), "canonical_name", "left_anti").write.parquet(
        os.path.join(mut_root, "nodes")
    )
    mutated = stage_checksums(spark, mut_root, stages=["nodes"])["nodes"]
    assert mutated["rows"] == a["nodes"]["rows"] - 1
    assert mutated["checksum"] != a["nodes"]["checksum"]


def test_forget_unknown_ids_is_metadata_only(spark, corpus_sf0001, tmp_path_factory):
    """Forgetting ids absent from the graph must not rewrite the item
    table or invalidate downstream stages — fingerprints are re-stamped
    in place and the next run resumes everything."""
    d = tmp_path_factory.mktemp("forget_noop")
    out = str(d / "kg")
    run_pipeline(spark, corpus_sf0001["transcripts"], out, resume=False, until="claims")
    before = _manifest(out)
    pipe = KGPipeline(spark, corpus_sf0001["transcripts"], out)
    assert pipe.forget_conversations(["no-such-conv"]) == 0
    after = _manifest(out)
    assert after["forgotten_conv_ids"] == ["no-such-conv"]
    # every stage kept its stats (sec/rows/bytes) — only fingerprints moved
    for name, e in before.items():
        if isinstance(e, dict) and "rows" in e:
            assert after[name]["rows"] == e["rows"]
            assert after[name]["sec"] == e["sec"]
            assert after[name]["fingerprint"] != e["fingerprint"]
    # and the next run is a pure resume: manifest untouched
    pipe.run(resume=True, until="claims")
    assert _manifest(out) == after


def test_forget_quarantined_conversation_leaves_quarantine_stage(spark, tmp_path):
    """A quarantined conversation has NO extraction items, so forgetting it
    takes the metadata-only path — but the quarantine stage derives from
    transcripts, so it must still rebuild and drop the row (RTBF covers
    the quarantine record too)."""
    import datetime

    import pandas as pd

    from graphrag_litex_spark.plans.pipeline import PipelineConfig

    ts = datetime.datetime(2025, 1, 1)
    rows = [
        ("good", 0, "user", "Alice Johnson works at Acme Corp.", None, ts),
        ("good", 1, "assistant", "Noted. Acme Corp acquired Initech.", None, ts),
        # duplicate turn_idx -> quarantined, never extracted
        ("bad", 0, "user", "Bob Stone met Carol Danvers.", None, ts),
        ("bad", 0, "user", "Bob Stone met Carol Danvers again.", None, ts),
    ]
    src = str(tmp_path / "tr")
    spark.createDataFrame(
        pd.DataFrame(rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"])
    ).write.parquet(src)

    out = str(tmp_path / "kg")
    cfg = PipelineConfig(validate_ingest=True)
    res = run_pipeline(spark, src, out, config=cfg, resume=False, until="claims")
    assert [r["conv_id"] for r in res["quarantine"].select("conv_id").collect()] == ["bad"]

    pipe = KGPipeline(spark, src, out, config=cfg)
    assert pipe.forget_conversations(["bad"]) == 0  # no items — metadata path
    res2 = pipe.run(resume=True, until="claims")
    # the quarantine record itself is gone; the graph is untouched
    assert res2["quarantine"].count() == 0
    assert res2["triples"].count() == res["triples"].count()


def test_append_of_corrupt_conversation_is_quarantined_everywhere(spark, tmp_path):
    """An appended conversation with a duplicate turn_idx is extracted by
    the append (it runs no gate), so the resumed build must gate the
    extraction items too: the conversation is listed in the quarantine
    stage and reaches no mention, node or triple."""
    import datetime

    import pandas as pd

    from graphrag_litex_spark.plans.pipeline import PipelineConfig

    ts = datetime.datetime(2025, 1, 1)
    cols = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    good = [
        ("good", 0, "user", "Alice Johnson works at Acme Corp.", None, ts),
        ("good", 1, "assistant", "Noted. Acme Corp acquired Initech.", None, ts),
    ]
    bad = [
        ("bad", 0, "user", "Bob Stone met Carol Danvers.", None, ts),
        ("bad", 0, "user", "Bob Stone met Carol Danvers again.", None, ts),
    ]
    src, extra = str(tmp_path / "tr"), str(tmp_path / "tr_append")
    spark.createDataFrame(pd.DataFrame(good, columns=cols)).write.parquet(src)
    spark.createDataFrame(pd.DataFrame(bad, columns=cols)).write.parquet(extra)

    out = str(tmp_path / "kg")
    cfg = PipelineConfig(validate_ingest=True)
    run_pipeline(spark, src, out, config=cfg, resume=False, until="claims")
    pipe = KGPipeline(spark, src, out, config=cfg)
    assert pipe.append_transcripts(extra) == 2
    res = pipe.run(resume=True, until="claims")

    assert [r["conv_id"] for r in res["quarantine"].select("conv_id").collect()] == ["bad"]
    assert res["mentions"].where(F.col("source_id") == "bad").count() == 0
    names = {r["canonical_name"] for r in res["nodes"].select("canonical_name").collect()}
    assert not {n for n in names if "bob" in n.lower() or "carol" in n.lower()}
    assert {r["conv_id"] for r in res["triples"].select("conv_id").collect()} == {"good"}


def test_stage_checksums_canonicalization_and_null_positions(spark, tmp_path):
    from graphrag_litex_spark.plans.pipeline import stage_checksums

    root_a, root_b = str(tmp_path / "a"), str(tmp_path / "b")
    # same rows, array elements in different collect order -> SAME checksum
    spark.createDataFrame(
        [("k1", ["x", "y"], 0.30000000001), ("k2", ["z"], 1.5)],
        "k string, arr array<string>, s double",
    ).write.parquet(os.path.join(root_a, "t"))
    spark.createDataFrame(
        [("k2", ["z"], 1.5), ("k1", ["y", "x"], 0.30000000002)],
        "k string, arr array<string>, s double",
    ).write.parquet(os.path.join(root_b, "t"))
    ca = stage_checksums(spark, root_a, stages=["t"])["t"]
    cb = stage_checksums(spark, root_b, stages=["t"])["t"]
    assert ca == cb  # array order + sub-6dp float noise canonicalized away

    # a value migrating between adjacent nullable columns -> DIFFERENT
    # checksum (null flags hash alongside values)
    root_c, root_d = str(tmp_path / "c"), str(tmp_path / "d")
    spark.createDataFrame(
        [("k", "CEO", None)], "k string, f2 string, f3 string"
    ).write.parquet(os.path.join(root_c, "t"))
    spark.createDataFrame(
        [("k", None, "CEO")], "k string, f2 string, f3 string"
    ).write.parquet(os.path.join(root_d, "t"))
    cc = stage_checksums(spark, root_c, stages=["t"])["t"]
    cd = stage_checksums(spark, root_d, stages=["t"])["t"]
    assert cc["checksum"] != cd["checksum"]


def test_stage_checksums_pending_marker_is_stale(spark, corpus_sf0001, tmp_path_factory):
    from graphrag_litex_spark.plans.pipeline import stage_checksums

    d = tmp_path_factory.mktemp("attest_pending")
    out = str(d / "kg")
    run_pipeline(spark, corpus_sf0001["transcripts"], out, resume=False, until="extractions")
    man = _manifest(out)
    man["extractions"]["fingerprint"] = "pending-forget:1"
    with open(os.path.join(out, "_manifest.json"), "w") as fh:
        json.dump(man, fh)
    att = stage_checksums(spark, out, stages=["extractions"])
    assert att["extractions"].get("stale") is True


def test_redact_pii_keeps_raw_identifiers_out_of_every_stage(spark, tmp_path):
    import datetime

    import pandas as pd

    from graphrag_litex_spark.plans.pipeline import PipelineConfig

    ts = datetime.datetime(2025, 1, 1)
    rows = [
        (
            "c1",
            0,
            "user",
            "Alice Johnson works at Acme Corp. Reach her at alice@example.com "
            "or 555-123-4567; SSN 123-45-6789.",
            None,
            ts,
        ),
        ("c1", 1, "assistant", "Noted. Acme Corp acquired Initech.", None, ts),
    ]
    pdf = pd.DataFrame(
        rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    )
    src = str(tmp_path / "pii_transcripts")
    spark.createDataFrame(pdf).write.parquet(src)

    res = run_pipeline(
        spark,
        src,
        str(tmp_path / "kg"),
        config=PipelineConfig(redact_pii=True),
        resume=False,
        until="claims",
    )
    chunk_text = " ".join(r["text"] for r in res["chunks"].collect())
    assert "<EMAIL>" in chunk_text and "<SSN>" in chunk_text and "<PHONE>" in chunk_text
    for df in (res["chunks"], res["mentions"], res["claims"]):
        blob = str(df.collect())
        assert "alice@example.com" not in blob
        assert "123-45-6789" not in blob
        assert "555-123-4567" not in blob
    # extraction still works on the redacted text
    assert res["triples"].count() > 0


def test_append_of_forgotten_conversation_is_excluded(
    spark, corpus_sf0001, tmp_path_factory
):
    d = tmp_path_factory.mktemp("forget_append")
    t = pq.read_table(corpus_sf0001["transcripts"])
    convs = pc.unique(t.column("conv_id")).to_pylist()
    victim, fresh = sorted(convs)[0], sorted(convs)[1]
    base = t.filter(
        pc.invert(pc.is_in(t.column("conv_id"), value_set=pa.array([fresh])))
    )
    a_dir = str(d / "a")
    os.makedirs(a_dir)
    pq.write_table(base, os.path.join(a_dir, "part-0.parquet"))

    out = str(d / "kg")
    run_pipeline(spark, a_dir, out, resume=False, until="claims")
    pipe = KGPipeline(spark, a_dir, out)
    assert pipe.forget_conversations([victim]) == 1

    # the appended batch contains BOTH the forgotten conversation and a
    # genuinely new one: only the new one's turns may be ingested
    b = t.filter(pc.is_in(t.column("conv_id"), value_set=pa.array([victim, fresh])))
    b_dir = str(d / "b")
    os.makedirs(b_dir)
    pq.write_table(b, os.path.join(b_dir, "part-0.parquet"))
    n_fresh = len(t.filter(pc.is_in(t.column("conv_id"), value_set=pa.array([fresh]))))
    assert pipe.append_transcripts(b_dir) == n_fresh

    res = pipe.run(resume=True, until="claims")
    convs_in_graph = {c for (c, *_rest) in _triple_keys(res)}
    assert victim not in convs_in_graph
    assert fresh in convs_in_graph
