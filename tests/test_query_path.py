"""Query path (C7/G1/G2/J1) + sources + CLI entry."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from graphrag_litex_spark.functions.normalize import hash_embed


@pytest.fixture(scope="module")
def summaries(spark):
    rows = [
        (0, "c1", "Acme Corp", "Community about acme corp acquisitions.", 8.0,
         [{"summary": "acme corp acquired globex inc", "explanation": "x"}],
         "Acme Corp Community about acme corp acquisitions. acme corp acquired globex inc"),
        (0, "c2", "QuantumDB", "Community about quantumdb usage.", 5.0,
         [{"summary": "alice johnson uses quantumdb", "explanation": "y"}],
         "QuantumDB Community about quantumdb usage. alice johnson uses quantumdb"),
        (1, "c3", "Other", "Unrelated level-1 community.", 2.0, [],
         "Other Unrelated level-1 community."),
    ]
    return spark.createDataFrame(
        pd.DataFrame(
            rows,
            columns=["level", "community_id", "title", "summary", "rating", "findings", "full_text"],
        )
    )


def test_hash_embed_deterministic_and_normalized():
    a = hash_embed("acme corp acquired globex")
    b = hash_embed("acme corp acquired globex")
    assert a == b
    norm = sum(v * v for v in a) ** 0.5
    assert abs(norm - 1.0) < 1e-9
    assert hash_embed("") == [0.0] * 64


def test_select_top_k_level_filter(summaries):
    from graphrag_litex_spark.querying.answer import embed_summaries, select_top_k

    emb = embed_summaries(summaries)
    top = select_top_k(emb, "who acquired acme corp", level=0, k=10).collect()
    assert all(r["level"] == 0 for r in top)
    # The acme community must outrank the quantumdb one for an acme question.
    assert top[0]["community_id"] == "c1"
    assert top[0]["score"] >= top[-1]["score"]


def test_answer_question_shape(summaries):
    from graphrag_litex_spark.querying.answer import answer_question

    ans = answer_question(summaries, "who acquired acme corp", level=0, k=5)
    assert "acme corp acquired globex inc" in ans["answer"]
    assert ans["topics"][0]["topic"] == "Acme Corp"
    assert ans["used_communities"][0] == "c1"
    # helpfulness sorted descending
    hs = [t["helpfulness"] for t in ans["topics"]]
    assert hs == sorted(hs, reverse=True)


def test_documents_as_transcripts_adapter(spark):
    from graphrag_litex_spark.sources.tables import documents_as_transcripts, read_transcripts

    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": [10, 11], "text": ["Acme Corp acquired Globex Inc.", "x"]})
    )
    tr = documents_as_transcripts(docs)
    assert tr.columns == ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    assert tr.count() == 2


def test_read_text_documents_one_row_per_file(spark, tmp_path):
    """A1: each file is one row whose text is the whole file, line breaks
    included."""
    from graphrag_litex_spark.sources.tables import read_text_documents

    texts = {
        "a.txt": "Acme Corp acquired Globex Inc.",
        "b.md": "# Notes\n\nAlice Johnson uses QuantumDB.\nBob Smithers does not.\n",
    }
    for name, text in texts.items():
        (tmp_path / name).write_text(text)
    rows = read_text_documents(spark, str(tmp_path)).collect()
    assert len(rows) == 2
    assert {r["doc_id"].rsplit("/", 1)[-1]: r["text"] for r in rows} == texts


def test_read_transcripts_validates_schema(spark, corpus_sf0001, tmp_path):
    from graphrag_litex_spark.sources.tables import read_transcripts

    df = read_transcripts(spark, corpus_sf0001["transcripts"])
    assert df.count() > 0
    bad = df.drop("turn_idx")
    p = str(tmp_path / "bad")
    bad.write.parquet(p)
    with pytest.raises(ValueError, match="turn_idx"):
        read_transcripts(spark, p)


def test_cli_build_graph(spark, corpus_sf0001, tmp_path, capsys):
    import jobs.build_graph as job

    rc = job.main(
        [
            "--transcripts",
            corpus_sf0001["transcripts"],
            "--output",
            str(tmp_path / "kg"),
            "--until",
            "triples",
        ]
    )
    assert rc == 0
    out = capsys.readouterr().out
    assert "stage triples: written" in out


def test_sql_views(spark, corpus_sf0001, tmp_path):
    from graphrag_litex_spark.plans.pipeline import run_pipeline
    from graphrag_litex_spark.sql import register_graph_views

    res = run_pipeline(spark, corpus_sf0001["transcripts"], str(tmp_path / "kg"),
                       resume=True, until="triples")
    names = register_graph_views(spark, res)
    assert "kg_triples" in names
    rows = spark.sql(
        "SELECT subj, count(*) AS n FROM kg_triples GROUP BY subj ORDER BY n DESC LIMIT 3"
    ).collect()
    assert len(rows) == 3 and rows[0]["n"] >= rows[-1]["n"]


def test_table_identifier_ingestion(spark, corpus_sf0001, tmp_path):
    """table:<identifier> input path — catalog-table (Iceberg-shaped)
    ingestion exercised via a temp view; the full pipeline runs from it."""
    from graphrag_litex_spark.plans.pipeline import run_pipeline
    from graphrag_litex_spark.sources.tables import read_transcripts

    spark.read.parquet(corpus_sf0001["transcripts"]).createOrReplaceTempView(
        "transcripts_v"
    )
    df = read_transcripts(spark, "table:transcripts_v")
    assert df.columns[:2] == ["conv_id", "turn_idx"]
    res = run_pipeline(
        spark, "table:transcripts_v", str(tmp_path / "kg_tbl"), resume=False,
        until="canon_map",
    )
    assert res["canon_map"].count() == 60


# Question sets both paths must agree on: plain questions; questions whose
# text must round-trip through the batch's JSON literal (quote, backslash,
# newline, non-ASCII, an empty question); a level with no summaries; k
# larger than the number of summaries at the level.
_PLAIN = ["who acquired acme corp", "who uses quantumdb", "unrelated topic words"]
_ADVERSARIAL = [
    'who said "acme corp"?',
    "back\\slash acme\\corp \\",
    "line\nbreak\r\n quantumdb",
    "Zoë uses quantumdb \u2603 \U0001F600",
    "",
]
_BATCH_CASES = [(_PLAIN, 0, 2), (_ADVERSARIAL, 0, 2), (_PLAIN, 7, 2), (_PLAIN, 0, 10)]


def test_batch_select_equals_single(summaries):
    """select_top_k_batch == N independent select_top_k calls (D7 batch),
    on community and score; every score equals ``cosine_col`` against the
    question's own embedding, and every question string round-trips."""
    from graphrag_litex_spark.operators.similarity import cosine_col
    from graphrag_litex_spark.querying.answer import (
        embed_summaries,
        select_top_k,
        select_top_k_batch,
    )

    emb = embed_summaries(summaries)
    for questions, level, k in _BATCH_CASES:
        at_level = emb.where(F.col("level") == level)
        batch = select_top_k_batch(emb, questions, level=level, k=k).collect()
        assert len(batch) == len(questions) * min(k, at_level.count())
        got = {}
        for r in batch:
            assert r["question"] == questions[r["question_id"]]
            got.setdefault(r["question_id"], []).append((r["community_id"], r["score"]))
        for i, q in enumerate(questions):
            single = [
                (r["community_id"], r["score"])
                for r in select_top_k(emb, q, level=level, k=k).collect()
            ]
            assert got.get(i, []) == single, (q, level, k)
            qv = F.array(*[F.lit(v) for v in hash_embed(q)])
            want = dict(
                at_level.select(
                    "community_id", F.round(cosine_col(F.col("embedding"), qv), 6)
                ).collect()
            )
            assert single == [(c, want[c]) for c, _ in single], (q, level, k)


def test_answer_questions_batch_equals_single(summaries):
    """answer_questions (one Spark pass) == answer_question per question."""
    from graphrag_litex_spark.querying.answer import answer_question, answer_questions

    assert answer_questions(summaries, []) == []
    batches = []
    for questions, level, k in _BATCH_CASES:
        batches.append(answer_questions(summaries, questions, level=level, k=k))
        singles = [answer_question(summaries, q, level=level, k=k) for q in questions]
        assert batches[-1] == singles, (questions, level, k)
    assert batches[0][0]["used_communities"] and batches[0][0]["answer"]


def test_answer_questions_batch_equals_single_punctuated(summaries):
    """Punctuated questions score alike on both paths: the single path
    tokenizes its question with the batch path's regex, not a whitespace
    split ("corp?" is the token "corp")."""
    from graphrag_litex_spark.querying.answer import answer_question, answer_questions

    questions = ["who acquired acme corp?", "Who uses QuantumDB, alice-johnson?"]
    batch = answer_questions(summaries, questions, level=0, k=2)
    singles = [answer_question(summaries, q, level=0, k=2) for q in questions]
    assert batch == singles
    # {who, acquired, acme, corp} vs c1's 8 text tokens: 3 shared of 9.
    assert batch[0]["topics"][0]["helpfulness"] == 33.3333

    # The pure-Python global-search replica tokenizes the same way.
    from graphrag_litex_spark.oracle_graph import global_search_golden
    from graphrag_litex_spark.querying.answer import embed_summaries, map_answers, select_top_k

    golden_summaries = [
        {**r.asDict(), "findings": [f["summary"] for f in r["findings"]]}
        for r in summaries.collect()
    ]
    for q in questions:
        sel = select_top_k(embed_summaries(summaries), q, level=0, k=2)
        got = [r.asDict() for r in map_answers(sel, q).orderBy("community_id").collect()]
        want = global_search_golden(golden_summaries, [r.asDict() for r in sel.collect()], q)
        assert got == sorted(want, key=lambda r: r["community_id"]), q


def test_precomputed_summary_embeddings_skip_embed_udf(
    spark, summaries, pipeline_sf0001, tmp_path, monkeypatch
):
    """Query serving must not re-run the embedding UDF per question: with a
    precomputed summary_embeddings frame the plan is UDF-free and
    embed_summaries is never called, by the global paths nor by
    drift_search, which reads the pipeline's summary_embeddings stage."""
    from graphrag_litex_spark.operators.iterutils import release
    from graphrag_litex_spark.querying import answer as A

    emb_path = str(tmp_path / "summary_embeddings")
    A.embed_summaries(summaries).write.parquet(emb_path)
    emb = spark.read.parquet(emb_path)

    # retrieval plan over the materialized table contains no Python eval
    plan = (
        A.select_top_k(emb, "who acquired acme corp", level=0, k=5)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan

    want = A.answer_question(summaries, "who acquired acme corp", level=0, k=5)

    def boom(*a, **k):
        raise AssertionError("embed_summaries must not run with precomputed table")

    monkeypatch.setattr(A, "embed_summaries", boom)
    got = A.answer_question(
        None, "who acquired acme corp", level=0, k=5, summary_embeddings=emb
    )
    assert got == want
    got_batch = A.answer_questions(
        None, ["who acquired acme corp"], level=0, k=5, summary_embeddings=emb
    )
    assert got_batch[0]["used_communities"] == want["used_communities"]
    drift = A.drift_search(pipeline_sf0001, "who acquired acme corp")
    assert drift.collect()
    release(drift)


def test_query_path_job_and_plan_budget(spark, pipeline_sf0001):
    """A question batch runs two Spark jobs (the one hash exchange's map
    stage and the result): the questions are an inlined literal, not a
    broadcast table, and answers are ordered on the driver, not by a
    range-partitioned sort. A single question runs one job
    (TakeOrderedAndProject). Job ids come from the DAGScheduler's counter."""
    from graphrag_litex_spark.querying import answer as A

    dag = spark.sparkContext._jsc.sc().dagScheduler()
    summ, emb = pipeline_sf0001["summaries"], pipeline_sf0001["summary_embeddings"]
    questions = ["who acquired acme corp", "who uses quantumdb", "alice johnson"]

    def jobs(call) -> int:
        j0 = dag.nextJobId()
        call()
        return dag.nextJobId() - j0

    A.answer_questions(summ, questions, summary_embeddings=emb)  # warm-up
    assert jobs(lambda: A.answer_questions(summ, questions, summary_embeddings=emb)) <= 2
    assert jobs(lambda: A.answer_question(summ, questions[0], summary_embeddings=emb)) == 1

    batch = A.map_answers_batch(A.select_top_k_batch(emb, questions))
    batch.collect()
    plan = batch._jdf.queryExecution().executedPlan().executedPlan().toString()
    for node in ("BroadcastNestedLoopJoin", "BroadcastExchange", "rangepartitioning"):
        assert node not in plan, plan
    assert plan.count("Exchange") == 1, plan


def test_pipeline_materializes_summary_embeddings(pipeline_sf0001):
    emb = pipeline_sf0001["summary_embeddings"]
    assert "embedding" in emb.columns and emb.count() > 0
    row = emb.select("embedding").first()
    assert len(row["embedding"]) == 64


def test_rerank_by_overlap_default_and_slot(spark):
    """Default scorer: hand-computed token-set Jaccard micro-units with
    deterministic tie-break; scorer_udf slot replaces the score column."""
    import pandas as pd
    from pyspark.sql import functions as F

    from graphrag_litex_spark.querying.answer import rerank_by_overlap

    rows = [
        ("c1", "Acme Corp was ACQUIRED!", 0.9),   # toks {acme,corp,was,acquired}
        ("c2", "weather is nice", 0.8),           # no overlap
        ("c3", "who acquired acme corp", 0.7),    # exact token set
        ("c4", "", 0.6),                          # empty text
    ]
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["chunk_id", "text", "chunk_score"])
    )
    q = "who acquired acme corp"
    got = {
        r["chunk_id"]: (r["rerank_micro"], r["rerank_rnk"])
        for r in rerank_by_overlap(df, q, k=4).collect()
    }
    # c3: 4/4 -> 1_000_000; c1: {acme,corp,acquired} inter=3 union=5 -> 600_000
    # c2: 0/7 -> 0; c4: union=4 (question only) inter=0 -> 0; tie c2<c4 by id
    assert got["c3"] == (1_000_000, 1)
    assert got["c1"] == (3 * 1_000_000 // 5, 2)
    assert got["c2"] == (0, 3)
    assert got["c4"] == (0, 4)

    # cross-encoder slot: any text->double UDF takes over scoring
    fake = F.pandas_udf(lambda s: s.str.len().astype("float64"), "double")
    top = rerank_by_overlap(df, q, k=1, scorer_udf=fake).collect()[0]
    assert top["chunk_id"] == "c1"  # longest text wins under the fake scorer


@pytest.mark.parametrize(
    "search", ["local_search", "local_search_context", "drift_search"]
)
def test_seeded_search_release_frees_rank_checkpoint(
    spark, pipeline_sf0001, monkeypatch, search
):
    """Under distributed PageRank a query's result carries the rank
    checkpoint it reads: after collect() + release nothing stays pinned."""
    import warnings

    from graphrag_litex_spark.operators import pagerank as P
    from graphrag_litex_spark.operators.iterutils import release
    from graphrag_litex_spark.querying import answer

    real = P.pagerank
    monkeypatch.setattr(
        P, "pagerank", lambda *a, **kw: real(*a, **{**kw, "driver_threshold": 0})
    )
    baseline = set(spark.sparkContext._jsc.getPersistentRDDs())
    with warnings.catch_warnings():
        warnings.simplefilter("ignore", RuntimeWarning)
        result = getattr(answer, search)(pipeline_sf0001, "who acquired acme corp")
        assert result.collect()
        release(result)
    assert set(spark.sparkContext._jsc.getPersistentRDDs()) == baseline
