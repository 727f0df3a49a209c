"""Structured Streaming incremental ingest (streaming/incremental.py)."""

import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from conftest import python_nodes


@pytest.fixture(scope="module")
def split_corpus(spark, corpus_sf0001, tmp_path_factory):
    """Split the sf0.001 corpus into two 'arriving' parquet files."""
    d = tmp_path_factory.mktemp("arrivals")
    t = pq.read_table(corpus_sf0001["transcripts"])
    half = t.num_rows // 2
    pq.write_table(t.slice(0, half), str(d / "batch_0.parquet"))
    return str(d), t, half


def test_incremental_extraction_appends(spark, split_corpus, tmp_path_factory):
    from graphrag_litex_spark.streaming.incremental import stream_extract

    input_dir, t, half = split_corpus
    out = str(tmp_path_factory.mktemp("stream_out"))

    q = stream_extract(spark, input_dir, out, trigger_once=True)
    q.awaitTermination(120)
    n1 = spark.read.parquet(os.path.join(out, "mentions_delta")).count()
    assert n1 > 0

    # Second file arrives; availableNow trigger processes only the new file.
    pq.write_table(t.slice(half), os.path.join(input_dir, "batch_1.parquet"))
    q2 = stream_extract(spark, input_dir, out, trigger_once=True)
    q2.awaitTermination(120)
    mentions = spark.read.parquet(os.path.join(out, "mentions_delta"))
    n2 = mentions.count()
    assert n2 > n1

    # The union of streamed deltas equals the batch views over the same
    # input, row for row (multiset equality: exceptAll both ways).
    from graphrag_litex_spark.operators.extraction import (
        extract_items,
        items_mentions,
        items_raw_claims,
        items_raw_edges,
    )

    items = extract_items(spark.read.parquet(input_dir))
    for name, view in (
        ("mentions_delta", items_mentions),
        ("raw_edges_delta", items_raw_edges),
        ("raw_claims_delta", items_raw_claims),
    ):
        got = spark.read.parquet(os.path.join(out, name))
        want = view(items)
        assert got.columns == want.columns, name
        assert got.exceptAll(want).count() == 0, name
        assert want.exceptAll(got).count() == 0, name
    assert n2 == items_mentions(items).count()


@pytest.fixture
def written_plans(monkeypatch):
    """{parquet path: optimized logical plan} of every DataFrame write."""
    from pyspark.sql.readwriter import DataFrameWriter

    plans = {}
    orig = DataFrameWriter.parquet

    def spy(self, path, *a, **k):
        plans[os.path.basename(path.rstrip("/"))] = (
            self._df._jdf.queryExecution().optimizedPlan()
        )
        return orig(self, path, *a, **k)

    monkeypatch.setattr(DataFrameWriter, "parquet", spy)
    return plans


@pytest.fixture
def small_input(corpus_sf0001, tmp_path):
    d = tmp_path / "in"
    d.mkdir()
    t = pq.read_table(corpus_sf0001["transcripts"]).slice(0, 40)
    pq.write_table(t, str(d / "part-0.parquet"))
    return str(d)


def test_pipeline_extraction_plan_one_python_node(spark, small_input, tmp_path, written_plans):
    """The build's extractions stage runs exactly one Python node: the
    extract_items MapInArrow kernel (no per-row eval UDF)."""
    from graphrag_litex_spark.plans.pipeline import run_pipeline

    run_pipeline(spark, small_input, str(tmp_path / "kg"), resume=False, until="extractions")
    assert python_nodes(written_plans["extractions"]) == ["MapInArrow"]


def test_stream_extract_plan_one_python_node(spark, small_input, tmp_path, written_plans):
    """Every per-microbatch write of stream_extract runs the same single
    MapInArrow kernel as the batch build."""
    from graphrag_litex_spark.streaming.incremental import stream_extract

    q = stream_extract(spark, small_input, str(tmp_path / "out"), trigger_once=True)
    q.awaitTermination(120)
    names = ("mentions_delta", "raw_edges_delta", "raw_claims_delta")
    assert sorted(written_plans) == sorted(names)
    for name in names:
        assert python_nodes(written_plans[name]) == ["MapInArrow"], name


def test_windowed_turn_activity_batch_semantics(spark, corpus_sf0001):
    from graphrag_litex_spark.streaming.incremental import windowed_turn_activity

    tr = spark.read.parquet(corpus_sf0001["transcripts"])
    out = windowed_turn_activity(tr).collect()
    assert len(out) > 0
    total = sum(r["n_turns"] for r in out)
    # Sliding windows (10m window, 5m slide) double-count each turn ~2x.
    assert total == 2 * tr.count()
    assert all(r["window_end"] > r["window_start"] for r in out)


def test_conversation_progress_stateful(spark, split_corpus, tmp_path_factory):
    """applyInPandasWithState: final per-conversation state across two
    microbatch rounds equals the batch aggregation over all rows."""
    from pyspark.sql.streaming import StreamingQuery  # noqa: F401 (api presence)

    from graphrag_litex_spark.streaming.incremental import conversation_progress
    from graphrag_litex_spark.sources.tables import TRANSCRIPT_SCHEMA

    input_dir, t, half = split_corpus  # batch_0 + batch_1 exist by now
    out = str(tmp_path_factory.mktemp("state_out"))

    stream = (
        spark.readStream.schema(TRANSCRIPT_SCHEMA)
        .option("maxFilesPerTrigger", 1)  # two rounds -> state carries over
        .parquet(input_dir)
    )
    def sink(batch_df, batch_id):
        batch_df.write.mode("append").parquet(out)

    q = (
        conversation_progress(stream)
        .writeStream.outputMode("update")
        .foreachBatch(sink)  # update-mode rows appended; latest wins below
        .option("checkpointLocation", out + "_ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    # latest update per conversation == batch aggregate over all files
    updates = spark.read.parquet(out)
    latest = {
        r["conv_id"]: (r["n_turns"], r["max_turn_idx"], r["n_chars"])
        for r in updates.orderBy("n_turns").collect()  # last write wins
    }
    batch = (
        spark.read.parquet(input_dir)
        .groupBy("conv_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.max("turn_idx").alias("mx"),
            F.sum(F.length(F.coalesce("text", F.lit("")))).alias("ch"),
        )
        .collect()
    )
    want = {r["conv_id"]: (r["n"], r["mx"], r["ch"]) for r in batch}
    assert latest == want


def test_streaming_session_stats_matches_batch(spark, tmp_path_factory):
    """Watermarked session_window streaming == batch session stats for
    every session that closed before the final watermark."""
    import datetime as dt

    from graphrag_litex_spark.operators.temporal import session_stats_native
    from graphrag_litex_spark.streaming.incremental import streaming_session_stats

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    input_dir = str(tmp_path_factory.mktemp("sess_in"))
    ev.coalesce(1).write.mode("overwrite").parquet(input_dir)
    out = str(tmp_path_factory.mktemp("sess_out"))

    stream = spark.readStream.schema(ev.schema).parquet(input_dir)
    q = (
        streaming_session_stats(stream, gap_minutes=360.0, watermark="1 hour")
        .writeStream.outputMode("append")
        .format("parquet")
        .option("path", out)
        .option("checkpointLocation", out + "_ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    streamed = {
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
        for r in spark.read.parquet(out).collect()
    }
    batch_rows = session_stats_native(ev, "user_id", "ts", 360.0).collect()
    batch = {
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
        for r in batch_rows
    }
    # append mode only emits sessions closed before the final watermark:
    # session_window's end is last_event + gap (6h), watermark lags 1h, so
    # a session is flushed iff last_event + 6h < max_ts - 1h (1s margin)
    max_ts = max(r["session_end"] for r in batch_rows)
    horizon = max_ts - dt.timedelta(hours=7, seconds=1)
    closed = {t for t in batch if t[2] < horizon}
    assert streamed <= batch
    assert closed <= streamed
    assert len(streamed) > 100


def test_stream_kg_append_equals_full_rebuild(spark, corpus_sf0001, tmp_path_factory):
    """Continuous KG construction: base third built in batch, two more
    thirds ARRIVE as stream files and flow through append_transcripts via
    foreachBatch; after the stream drains, resume-run downstream stages and
    the triples equal the full-corpus golden. A drained re-run is a no-op."""
    from graphrag_litex_spark.plans.pipeline import KGPipeline, run_pipeline
    from graphrag_litex_spark.streaming.incremental import stream_kg_append

    d = tmp_path_factory.mktemp("stream_kg")
    t = pq.read_table(corpus_sf0001["transcripts"])
    third = t.num_rows // 3
    base_dir, arrivals = str(d / "base"), str(d / "arrivals")
    os.makedirs(base_dir), os.makedirs(arrivals)
    pq.write_table(t.slice(0, third), os.path.join(base_dir, "part-0.parquet"))
    pq.write_table(t.slice(third, third), os.path.join(arrivals, "arrive_0.parquet"))

    out = str(d / "kg")
    run_pipeline(spark, base_dir, out, resume=False, until="claims")
    pipe = KGPipeline(spark, base_dir, out)

    q = stream_kg_append(spark, arrivals, pipe, trigger_once=True)
    q.awaitTermination(180)
    extras_after_first = pipe._load_manifest()["extra_inputs"]
    assert len(extras_after_first) == 1

    # Late arrival: only the new file is processed by the next drain.
    pq.write_table(t.slice(2 * third), os.path.join(arrivals, "arrive_1.parquet"))
    q2 = stream_kg_append(spark, arrivals, pipe, trigger_once=True)
    q2.awaitTermination(180)
    assert len(pipe._load_manifest()["extra_inputs"]) == 2

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

    # Drained stream re-run: no new files -> no new ingests.
    q3 = stream_kg_append(spark, arrivals, pipe, trigger_once=True)
    q3.awaitTermination(180)
    assert len(pipe._load_manifest()["extra_inputs"]) == 2


def test_stream_kg_append_respects_forgotten_conversations(
    spark, corpus_sf0001, tmp_path_factory
):
    """The streaming ingest path shares the batch path's hygiene: a
    conversation forgotten via RTBF arriving again ON THE STREAM must be
    filtered by append_transcripts' ingest filters, not re-enter the KG."""
    import pyarrow.compute as pc

    from graphrag_litex_spark.plans.pipeline import KGPipeline, run_pipeline
    from graphrag_litex_spark.streaming.incremental import stream_kg_append

    d = tmp_path_factory.mktemp("stream_forget")
    t = pq.read_table(corpus_sf0001["transcripts"])
    convs = sorted(pc.unique(t.column("conv_id")).to_pylist())
    victim = convs[0]
    base_dir, arrivals = str(d / "base"), str(d / "arrivals")
    os.makedirs(base_dir), os.makedirs(arrivals)
    pq.write_table(t.slice(0, t.num_rows // 2), os.path.join(base_dir, "part-0.parquet"))

    out = str(d / "kg")
    run_pipeline(spark, base_dir, out, resume=False, until="claims")
    pipe = KGPipeline(spark, base_dir, out)
    assert pipe.forget_conversations([victim]) == 1

    # the victim's turns arrive (again) on the stream
    import pyarrow as pa

    pq.write_table(
        t.filter(pc.is_in(t.column("conv_id"), value_set=pa.array([victim]))),
        os.path.join(arrivals, "arrive_victim.parquet"),
    )
    q = stream_kg_append(spark, arrivals, pipe, trigger_once=True)
    q.awaitTermination(180)

    res = pipe.run(resume=True, until="claims")
    convs_in_graph = {r["conv_id"] for r in res["triples"].select("conv_id").distinct().collect()}
    assert victim not in convs_in_graph


def test_streaming_dedup_gate(spark, tmp_path_factory):
    """streaming_dedup emits each distinct normalized text exactly once
    across microbatches: within-batch dups pick the min id, cross-batch
    re-arrivals are suppressed by keyed state; the admitted set equals the
    batch normalized-dedup keepers."""
    import pyarrow as pa

    from graphrag_litex_spark.streaming.incremental import streaming_dedup

    d = tmp_path_factory.mktemp("dedup_arrivals")
    out = str(tmp_path_factory.mktemp("dedup_out"))
    pa.parquet.write_table(
        pa.table(
            {
                "doc_id": ["a2", "a1", "b"],  # a2/a1 same text -> min id a1
                "text": ["Hello,  WORLD!", "hello world", "something else"],
            }
        ),
        str(d / "batch_0.parquet"),
    )
    pa.parquet.write_table(
        pa.table(
            {
                "doc_id": ["c", "d"],  # c re-arrives a's text -> suppressed
                "text": ["HELLO world?!", "fresh new content"],
            }
        ),
        str(d / "batch_1.parquet"),
    )

    stream = (
        spark.readStream.schema("doc_id string, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d))
    )
    q = (
        streaming_dedup(stream)
        .writeStream.outputMode("append")
        .format("parquet")
        .option("path", out)
        .option("checkpointLocation", out + "_ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    got = sorted(
        (r["doc_id"], r["text"]) for r in spark.read.parquet(out).collect()
    )
    assert got == [
        ("a1", "hello world"),
        ("b", "something else"),
        ("d", "fresh new content"),
    ]


def test_conversation_integrity_stream_matches_batch(spark, split_corpus, tmp_path_factory):
    """Streaming contiguity gate: with conversations' turns split across two
    microbatches, intermediate verdicts show holes, and the final per-conv
    state equals the batch integrity operator's contiguity columns."""
    from graphrag_litex_spark.operators.transcripts import conversation_integrity
    from graphrag_litex_spark.sources.tables import TRANSCRIPT_SCHEMA
    from graphrag_litex_spark.streaming.incremental import (
        conversation_integrity_stream,
    )

    input_dir, t, half = split_corpus  # batch_0 + batch_1 on disk by now
    import os as _os

    if not _os.path.exists(_os.path.join(input_dir, "batch_1.parquet")):
        pq.write_table(t.slice(half), _os.path.join(input_dir, "batch_1.parquet"))
    out = str(tmp_path_factory.mktemp("integ_out"))

    stream = (
        spark.readStream.schema(TRANSCRIPT_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(input_dir)
    )

    def sink(batch_df, batch_id):
        batch_df.withColumn("batch_id", F.lit(batch_id)).write.mode("append").parquet(out)

    q = (
        conversation_integrity_stream(stream)
        .writeStream.outputMode("update")
        .foreachBatch(sink)
        .option("checkpointLocation", out + "_ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    updates = spark.read.parquet(out)
    cols = ("n_turns", "n_distinct_idx", "min_idx", "max_idx", "is_contiguous")
    latest = {
        r["conv_id"]: tuple(r[c] for c in cols)
        for r in updates.orderBy("n_turns").collect()  # n_turns monotone per conv
    }
    batch = conversation_integrity(spark.read.parquet(input_dir))
    want = {r["conv_id"]: tuple(r[c] for c in cols) for r in batch.collect()}
    assert latest == want
    # The shuffled corpus splits conversations across batches, so SOME
    # intermediate verdict must have been non-contiguous (holes mid-stream)
    # even though the corpus is clean at the end — cross-batch state worked.
    assert all(v[4] for v in want.values())  # clean corpus: all contiguous
    assert updates.where(~F.col("is_contiguous")).count() > 0


def test_stream_sft_samples_matches_batch_render(spark, tmp_path_factory):
    """Closed-session streaming SFT samples are byte-identical to batch
    render_sft over the same conversations (single-session conversations,
    gap wide enough to hold each conversation together)."""
    import datetime as dt

    from graphrag_litex_spark.operators.transcripts import render_sft
    from graphrag_litex_spark.streaming.incremental import stream_sft_samples

    tr = spark.read.parquet(
        __import__("graphrag_litex_spark.datagen", fromlist=["datagen"])
        .ensure_corpus(0.001)["transcripts"]
    )
    input_dir = str(tmp_path_factory.mktemp("sft_stream_in"))
    tr.coalesce(1).write.mode("overwrite").parquet(input_dir)
    out = str(tmp_path_factory.mktemp("sft_stream_out"))

    stream = spark.readStream.schema(tr.schema).parquet(input_dir)
    q = (
        stream_sft_samples(stream, gap_minutes=24 * 60.0, watermark="1 hour")
        .writeStream.outputMode("append")
        .format("parquet")
        .option("path", out)
        .option("checkpointLocation", out + "_ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    streamed = {
        r["conv_id"]: (r["text"], r["n_turns"], r["n_assistant_turns"], r["n_chars"])
        for r in spark.read.parquet(out).collect()
    }
    batch = {
        r["conv_id"]: (r["text"], r["n_turns"], r["n_assistant_turns"], r["n_chars"])
        for r in render_sft(tr).collect()
    }
    # append mode flushes sessions whose end (last turn + gap) passed the
    # final watermark; with a 24h gap only the old conversations emit.
    assert streamed, "some conversations must have closed"
    for cid, got in streamed.items():
        assert got == batch[cid], cid
    # streamed set is exactly the batch set restricted to closed sessions
    assert set(streamed) <= set(batch)
