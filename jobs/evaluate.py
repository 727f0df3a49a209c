"""Evaluation pipeline: GraphRAG vs VectorRAG, judged per question x
criterion, win tally, reference-shaped CSV (SURVEY.md §3.3 lifecycle;
reference /root/reference/evaluation/evaluate_graphrag.py:36-205 and
evaluation/llm_judge.py:5-67).

The reference's judge is an LLM picking a winner per criterion
(comprehensiveness / diversity / empowerment / directness, 0-100 scores,
reasoning string). The sandbox has no LLM, so the judge here is a
DETERMINISTIC stand-in with the reference's exact interface and output
shape — simple text statistics per criterion, NOT a quality claim; an
LLM-backed judge slots in behind :func:`judge_pair` unchanged (same
stance as the extraction/summarizer/answerer substitutions).

Dataflow (all-Spark until the tiny judge rows):
  transcripts -> KG pipeline (resume) -> answer_questions (ONE pass for
  the whole question list)            -> system 1 answers
  transcripts -> conversation reassembly -> documents -> VectorRAG
  (chunk/embed/top-k, jobs/vector_rag_baseline.py) -> system 2 answers
  judge rows (|Q| x 4) -> win tally (E8 groupBy count) -> eval CSV (A6)

Run: python3 jobs/evaluate.py <transcripts_parquet> <kg_out_dir> <csv_path> [questions...]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# Reference criteria (evaluation/llm_judge.py:5-10).
CRITERIA = ["comprehensiveness", "diversity", "empowerment", "directness"]


def _tokens(text: str) -> list[str]:
    import re

    return [t for t in re.split(r"[^a-z0-9]+", (text or "").lower()) if t]


def criterion_score(answer: str, criterion: str) -> float:
    """Deterministic 0-100 proxy score per reference criterion.

    comprehensiveness — coverage proxy: token count saturating at 100;
    diversity — distinct-token ratio; empowerment — density of concrete
    references (entity-mention stand-in: tokens of length >= 5);
    directness — brevity: fewer tokens score higher.
    """
    toks = _tokens(answer)
    n = len(toks)
    if n == 0:
        return 0.0
    if criterion == "comprehensiveness":
        return round(min(n, 100) * 1.0, 2)
    if criterion == "diversity":
        return round(100.0 * len(set(toks)) / n, 2)
    if criterion == "empowerment":
        return round(100.0 * sum(1 for t in toks if len(t) >= 5) / n, 2)
    # directness
    return round(100.0 / (1.0 + n / 25.0), 2)


def judge_pair(answer1: str, answer2: str, criterion: str) -> dict:
    """Reference judge output shape (llm_judge.py:12-67): winner 1/2/0 +
    both scores + reasoning. Pluggable: replace with an LLM-backed
    implementation of the same signature for real evaluation."""
    s1 = criterion_score(answer1, criterion)
    s2 = criterion_score(answer2, criterion)
    winner = 1 if s1 > s2 else (2 if s2 > s1 else 0)
    return {
        "criterion": criterion,
        "winner": winner,
        "winning_system": ["tie", "GraphRAG-LiteX-Spark", "VectorRAG"][winner],
        "system1": "GraphRAG-LiteX-Spark",
        "score1": s1,
        "system2": "VectorRAG",
        "score2": s2,
        "reasoning": f"deterministic {criterion} proxy: {s1} vs {s2}",
    }


def transcripts_as_documents(transcripts: DataFrame) -> DataFrame:
    """B3 reassembly -> a documents table for the VectorRAG baseline (one
    conversation = one document, stable (conv_id, turn_idx) order)."""
    return (
        transcripts.groupBy("conv_id")
        .agg(F.sort_array(F.collect_list(F.struct("turn_idx", "text"))).alias("_s"))
        .select(
            F.col("conv_id").alias("doc_id"),
            F.concat_ws(" ", F.col("_s.text")).alias("text"),
        )
    )


def preference_pairs(
    spark: SparkSession,
    questions: list[str],
    answers_a: list[dict],
    answers_b: list[dict],
    eval_rows: list[dict],
) -> DataFrame:
    """Judged answers -> DPO/RLHF preference pairs: for each question,
    majority-vote the per-criterion winners; a non-tie emits one
    (question, chosen, rejected, margin, n_criteria) row — the training
    artifact a preference-tuning run consumes. Ties produce no pair (a
    tied pair teaches nothing and poisons the margin distribution).
    Deterministic: the judge is deterministic, so the pair set is a pure
    function of the two answer sets."""
    per_q: dict[str, int] = {}
    for r in eval_rows:
        per_q.setdefault(r["question"], 0)
        per_q[r["question"]] += 1 if r["winner"] == 1 else (-1 if r["winner"] == 2 else 0)
    n_crit = len(CRITERIA)
    rows = []
    for q, ga, va in zip(questions, answers_a, answers_b):
        net = per_q.get(q, 0)
        if net == 0:
            continue
        chosen, rejected = (ga, va) if net > 0 else (va, ga)
        rows.append(
            {
                "question": q,
                "chosen": chosen["answer"],
                "rejected": rejected["answer"],
                "margin": abs(net),
                "n_criteria": n_crit,
            }
        )
    schema = (
        "question string, chosen string, rejected string, "
        "margin long, n_criteria long"
    )
    return spark.createDataFrame(rows, schema) if rows else spark.createDataFrame([], schema)


def run_evaluation(
    spark: SparkSession,
    transcripts_path: str,
    kg_out_dir: str,
    questions: list[str],
    csv_path: str,
    level: int = 0,
    top_k: int = 5,
    pairs_path: str | None = None,
) -> dict:
    """Full §3.3 lifecycle; returns {"csv": path, "tally": {system: wins}}."""
    from graphrag_litex_spark.plans.pipeline import run_pipeline
    from graphrag_litex_spark.querying.answer import answer_questions
    from graphrag_litex_spark.sinks.eval_csv import write_eval_csv
    from jobs.vector_rag_baseline import run_vector_rag

    # System 1: GraphRAG (KG pipeline + batch map/reduce answers).
    kg = run_pipeline(spark, transcripts_path, kg_out_dir, resume=True)
    graph_answers = answer_questions(
        kg["summaries"], questions, level=level, k=top_k,
        summary_embeddings=kg["summary_embeddings"],
    )

    # System 2: VectorRAG over the reassembled conversations.
    docs = transcripts_as_documents(kg["chunks"])
    vector_answers = run_vector_rag(spark, docs, questions, top_k=top_k)

    rows = []
    for q, ga, va in zip(questions, graph_answers, vector_answers):
        for crit in CRITERIA:
            rows.append({"question": q, **judge_pair(ga["answer"], va["answer"], crit)})

    evals = spark.createDataFrame(rows)
    # E8 win tally (reference evaluate_graphrag.py:150-159).
    tally = {
        r["winning_system"]: r["n"]
        for r in evals.groupBy("winning_system").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    path = write_eval_csv(evals, csv_path)
    out = {"csv": path, "tally": tally}
    if pairs_path is not None:
        pairs = preference_pairs(spark, questions, graph_answers, vector_answers, rows)
        pairs.write.mode("overwrite").parquet(pairs_path)
        out["preference_pairs"] = spark.read.parquet(pairs_path).count()
        out["pairs_path"] = pairs_path
    return out


def main() -> int:
    from graphrag_litex_spark.session import get_spark

    transcripts, out_dir, csv_path = sys.argv[1], sys.argv[2], sys.argv[3]
    questions = sys.argv[4:] or ["who acquired acme corp"]
    spark = get_spark(app_name="kgx_evaluate")
    res = run_evaluation(spark, transcripts, out_dir, questions, csv_path)
    print(res["tally"])
    print(f"wrote {res['csv']}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
