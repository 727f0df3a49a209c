"""Query path: question -> top-k community summaries -> map/reduce answer.

Reference lifecycle (SURVEY.md §3.2): filter summaries by level (G5), embed
question + summaries and rank by cosine (C7 + G1,
/root/reference/utils/embedding_utils.py:17-40), per-summary "map" answers
with helpfulness scores, filter empties, sort by helpfulness (G2), one
"reduce" call (J1, /root/reference/querying/map_reduce.py:21-61).

Deterministic sandbox substitutions (pluggable, same interfaces):
  * embeddings: hashing featurizer (functions/normalize.hash_embed) as an
    Arrow-batched pandas UDF — stands in for MiniLM
    (utils/llm_client.py:38-46);
  * map answer: the summary's findings filtered by question-token overlap;
    helpfulness = 100 * token-overlap Jaccard (stands in for the LLM's
    0-100 helpfulness, utils/prompts.py:167-181);
  * reduce: deterministic concatenation of the top answers sorted by
    helpfulness (stands in for the GLOBAL_ANSWER_PROMPT call).

The level filter uses the typed ``level`` column, fixing the reference's
fragile id-prefix hack (SURVEY.md Q4); the reference's pre-selection
``random.shuffle`` (Q5/G4) is deliberately omitted — scoring makes order
irrelevant and determinism is required.
"""

from __future__ import annotations

import json
import math

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from graphrag_litex_spark.functions.normalize import hash_embed
from graphrag_litex_spark.operators.iterutils import checkpoint_scope
from graphrag_litex_spark.operators.similarity import cosine_from_norms, norm_col

EMBED_DIM = 64


def make_embed_udf(dim: int = EMBED_DIM):
    def _batch(texts: pd.Series) -> pd.Series:
        return texts.map(lambda t: hash_embed(t or "", dim))

    return F.pandas_udf(_batch, T.ArrayType(T.DoubleType()))


def embed_summaries(summaries: DataFrame) -> DataFrame:
    """Materializable summary_embeddings table (the reference caches
    embeddings per summary id, utils/embedding_utils.py:52-63), at the
    ``EMBED_DIM`` the question embeddings have: the cosine scores a
    width mismatch NULL, not as an error."""
    return summaries.withColumn("embedding", make_embed_udf(EMBED_DIM)(F.col("full_text")))


_QUESTIONS_SCHEMA = (
    "array<struct<question_id:int,question:string,_qv:array<double>,_qnorm:double>>"
)


def _questions_literal(questions: list[str]) -> F.Column:
    """The questions, their embeddings and their norms as ONE constant
    ``array<struct<question_id, question, _qv, _qnorm>>``: ``from_json``
    over one JSON string, which Catalyst folds to a literal at plan time
    (no driver-built table, no broadcast). The literal holds |Q| * EMBED_DIM
    doubles, the same order as the <= |Q| * k answer rows a batch collects.

    ``_qnorm`` is :func:`~graphrag_litex_spark.operators.similarity.norm_col`
    replayed in Python: the same left-to-right sum of squares from 0.0 and
    a correctly rounded sqrt, so it is bit-identical to Spark's."""
    rows = []
    for i, q in enumerate(questions):
        qv = hash_embed(q, EMBED_DIM)
        sq = 0.0
        for v in qv:
            sq += v * v
        rows.append({"question_id": i, "question": q, "_qv": qv, "_qnorm": math.sqrt(sq)})
    return F.from_json(F.lit(json.dumps(rows)), _QUESTIONS_SCHEMA)


def _scored(summary_embeddings: DataFrame, questions: list[str], level: int) -> DataFrame:
    """Every (summary at ``level``, question) pair with its cosine ``score``
    (rounded to 6 dp): the summary norm is computed once per summary row,
    before the question literal is expanded per row with ``inline``.

    -> (<summary cols>, question_id, question, score)
    """
    emb = F.col("embedding")
    score = cosine_from_norms(emb, F.col("_qv"), F.col("_snorm"), F.col("_qnorm"))
    return (
        summary_embeddings.where(F.col("level") == level)
        .withColumn("_snorm", norm_col(emb))
        .select("*", F.inline(_questions_literal(questions)))
        .withColumn("score", F.round(score, 6))
        .drop("_snorm", "_qv", "_qnorm")
    )


def select_top_k(
    summary_embeddings: DataFrame,
    question: str,
    level: int = 0,
    k: int = 10,
) -> DataFrame:
    """G1: top-k summaries by cosine vs the question embedding.

    Scored by the batch path's expression (a one-question literal);
    ranking compiles to TakeOrderedAndProject (per-partition heaps, no
    global sort), one Spark job.
    """
    return (
        _scored(summary_embeddings, [question], level)
        .drop("question_id", "question")
        .orderBy(F.col("score").desc(), F.col("community_id").asc())
        .limit(k)
    )


def select_top_k_batch(
    summary_embeddings: DataFrame,
    questions: list[str],
    level: int = 0,
    k: int = 10,
) -> DataFrame:
    """D7 batch shape: top-k summaries for MANY questions in ONE pass
    (SURVEY.md D7 — "crossJoin for multi-question batch"; the reference
    answers questions one at a time, graphrag_lite_x.py:100-107).

    The questions are one folded literal (:func:`_questions_literal`:
    |Q| * EMBED_DIM doubles, the order of the <= |Q| * k rows a batch
    collects), expanded per summary row, so every (summary, question) pair
    is scored JVM-side with no join; a per-question ``row_number`` window
    keeps k. It plans as a partial WindowGroupLimit, ONE hash exchange on
    question_id and the final limit, so collecting it runs two Spark jobs
    (the shuffle map stage and the result) and the work scales with the
    number of summaries. One corpus-side scan regardless of |questions|.

    -> (<summary cols>, question_id, question, score, rank)
    """
    w = Window.partitionBy("question_id").orderBy(
        F.col("score").desc(), F.col("community_id").asc()
    )
    return (
        _scored(summary_embeddings, questions, level)
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def _map_columns(question: F.Column) -> tuple[F.Column, F.Column]:
    """J1 map scoring for a question COLUMN -> (answer, helpfulness).

    The question and the summary text are tokenized alike, by the
    ``[^a-z0-9]+`` regex (empty fragments dropped from the question), so
    the single and batch paths score every question identically. A
    literal question folds to a constant token array at plan time.
    """
    q_tokens = F.array_distinct(
        F.array_remove(F.split(F.lower(question), r"[^a-z0-9]+"), "")
    )
    s_tokens = F.array_distinct(F.split(F.lower(F.col("full_text")), r"[^a-z0-9]+"))
    inter = F.size(F.array_intersect(s_tokens, q_tokens))
    union = F.size(F.array_union(s_tokens, q_tokens))
    helpful = F.when(union > 0, F.round(100.0 * inter / union, 4)).otherwise(F.lit(0.0))
    relevant = F.filter(
        F.col("findings"),
        lambda f: F.size(
            F.array_intersect(F.split(F.lower(f["summary"]), r"[^a-z0-9]+"), q_tokens)
        )
        > 0,
    )
    answer = F.concat_ws(" ", F.transform(relevant, lambda f: f["summary"]))
    return answer.alias("answer"), helpful.alias("helpfulness")


def map_answers(selected: DataFrame, question: str) -> DataFrame:
    """J1 map: per-summary answer + helpfulness, as column expressions.

    answer = finding summaries sharing >=1 token with the question;
    helpfulness = 100 * Jaccard(question tokens, full_text tokens).
    """
    answer, helpful = _map_columns(F.lit(question))
    return selected.select(
        "level", "community_id", F.col("title"), answer, helpful, F.col("score")
    ).where(F.col("answer") != "")  # drop empty map answers (map_reduce.py:35)


def map_answers_batch(selected_batch: DataFrame) -> DataFrame:
    """J1 map over a multi-question selection (``question`` is a COLUMN);
    same scoring as :func:`map_answers`."""
    answer, helpful = _map_columns(F.col("question"))
    return selected_batch.select(
        "question_id",
        "question",
        "level",
        "community_id",
        F.col("title"),
        answer,
        helpful,
        F.col("score"),
    ).where(F.col("answer") != "")


def _answer_order(rows: list) -> list:
    """Map rows in answer order: helpfulness descending, then community_id
    (Python ``str`` order is Spark's UTF-8 byte order)."""
    return sorted(rows, key=lambda r: (-r["helpfulness"], r["community_id"]))


def _answer_dict(answer: str, rows: list) -> dict:
    return {
        "answer": answer,
        "topics": [
            {"topic": r["title"], "description": r["answer"], "helpfulness": r["helpfulness"]}
            for r in rows
        ],
        "used_communities": [r["community_id"] for r in rows],
    }


def answer_questions(
    summaries: DataFrame,
    questions: list[str],
    level: int = 0,
    k: int = 10,
    summary_embeddings: DataFrame | None = None,
) -> list[dict]:
    """Batch query pipeline: every question retrieved, mapped, and reduced
    in ONE Spark pass (:func:`select_top_k_batch`: two Spark jobs, one hash
    exchange); the reduce collects <= |questions| * k tiny rows and orders
    them on the driver, so no global sort runs. Returns one answer dict per
    input question (same shape as :func:`answer_question`), preserving
    input order.

    ``summary_embeddings``: precomputed :func:`embed_summaries` output
    (e.g. the pipeline's materialized summary_embeddings stage) — passing
    it skips the embedding UDF entirely (reference embedding cache,
    utils/embedding_utils.py:52-63).
    """
    emb = (
        summary_embeddings
        if summary_embeddings is not None
        else embed_summaries(summaries)
    )
    selected = select_top_k_batch(emb, questions, level=level, k=k)
    by_q: dict[int, list] = {}
    for r in map_answers_batch(selected).collect():
        by_q.setdefault(r["question_id"], []).append(r)
    out = []
    for i in range(len(questions)):
        rows = _answer_order(by_q.get(i, []))
        out.append(_answer_dict(" ".join(r["answer"] for r in rows), rows))
    return out


def map_answers_llm(selected: DataFrame, question: str, answerer) -> DataFrame:
    """J1 map via the pluggable LLM slot (functions/llm_generate.
    make_llm_answerer): ONE Arrow-batched pandas UDF calls ``answerer.map``
    per selected summary — the relational replacement for the reference's
    bounded-concurrency async map fan-out (map_reduce.py:21-33). Empty
    answers are filtered (:35)."""
    out_type = T.StructType(
        [
            T.StructField("answer", T.StringType()),
            T.StructField("helpfulness", T.DoubleType()),
        ]
    )

    def _map_batch(ctx):
        return pd.DataFrame([answerer.map(question, x or "") for x in ctx])

    map_udf = F.pandas_udf(_map_batch, out_type)

    m = F.col("_m")
    return (
        selected.withColumn("_m", map_udf(F.col("full_text")))
        .select(
            "level",
            "community_id",
            F.col("title"),
            m["answer"].alias("answer"),
            m["helpfulness"].alias("helpfulness"),
            F.col("score"),
        )
        .where(F.col("answer") != "")
    )


NO_ANSWER = "No relevant information found to answer the question."


def answer_question(
    summaries: DataFrame,
    question: str,
    level: int = 0,
    k: int = 10,
    answerer=None,
    summary_embeddings: DataFrame | None = None,
) -> dict:
    """Full query pipeline; the reduce step collects <= k tiny rows (the
    only driver-side collection in the engine, mirroring the reference's
    single reduce LLM call).

    ``answerer``: optional LLM slot (functions/llm_generate.LLMAnswerer) —
    its ``map`` runs distributed per selected summary, its ``reduce`` runs
    once on the driver over the <= k surviving answers, exactly the
    reference's one global-answer call (map_reduce.py:47). Default: the
    deterministic token-overlap map + concatenation reduce.

    ``summary_embeddings``: precomputed :func:`embed_summaries` output
    (the pipeline's materialized summary_embeddings stage) — under query
    load, re-running the embedding UDF over every summary per question is
    pure waste; with this frame supplied zero Python runs in retrieval
    (reference embedding cache, utils/embedding_utils.py:52-63)."""
    emb = (
        summary_embeddings
        if summary_embeddings is not None
        else embed_summaries(summaries)
    )
    selected = select_top_k(emb, question, level=level, k=k)
    if answerer is None:
        mapped = map_answers(selected, question)
    else:
        mapped = map_answers_llm(selected, question, answerer)
    rows = _answer_order(mapped.collect())
    if answerer is None:
        answer = " ".join(r["answer"] for r in rows)
    elif rows:
        answer = answerer.reduce(question, [r["answer"] for r in rows])
    else:
        answer = NO_ANSWER  # map_reduce.py:38-41 empty-result envelope
    return _answer_dict(answer, rows)


def _question_seeds(canon_map: DataFrame, question: str) -> DataFrame:
    """-> (vertex): the canonical entities whose normalized surface form
    (3+ chars) occurs as a whole word in the normalized question, matched
    RELATIONALLY against the canon map."""
    from graphrag_litex_spark.functions.normalize import normalize_name

    nq = f" {normalize_name(question)} "
    return canon_map.where(
        (F.length("norm_name") >= 3)
        & (F.instr(F.lit(nq), F.concat(F.lit(" "), F.col("norm_name"), F.lit(" "))) > 0)
    ).select(F.col("canonical").alias("vertex"))


def _seeded_rank(kg: dict, seeds, k: int, damping: float, iters: int) -> DataFrame:
    """Personalized PageRank over the merged edge graph from ``seeds``
    (operators/pagerank.py, the same iterative hash-join loop) -> (name,
    score) top-k, score rounded so ties break by name identically in every
    engine. The result carries PageRank's checkpoint (distributed regime):
    pass it to ``iterutils.release`` once consumed."""
    from graphrag_litex_spark.operators.pagerank import pagerank

    with checkpoint_scope() as scope:
        pr = scope.own(
            pagerank(kg["edges"].select("src", "dst"), seeds=seeds, damping=damping, iters=iters)
        )
        return scope.result(
            pr.select(F.col("vertex").alias("name"), F.round("rank", 6).alias("score"))
            .orderBy(F.col("score").desc(), F.col("name").asc())
            .limit(k),
            pr,
        )


def local_search(
    kg: dict,
    question: str,
    k: int = 10,
    damping: float = 0.85,
    iters: int = 10,
) -> DataFrame:
    """GraphRAG LOCAL search: rank entities by graph proximity to the
    question's entities — the complement of the community-summary GLOBAL
    path above. Seeds = canonical entities whose normalized surface form
    occurs as a whole word in the normalized question (matched
    RELATIONALLY against the canon map — only the matched seed list, a
    handful of strings, ever reaches the driver); ranking = personalized
    PageRank over the merged edge graph (operators/pagerank.py, the same
    iterative hash-join loop). -> (name, score) top-k, score rounded so
    ties break by name identically in every engine.

    ``kg`` is the stage-frame dict from plans.pipeline.run_pipeline
    (needs "canon_map" and "edges"). Pass the result to
    ``iterutils.release`` once consumed."""
    seed_rows = _question_seeds(kg["canon_map"], question).distinct().collect()
    seeds = sorted(r["vertex"] for r in seed_rows)
    return _seeded_rank(kg, seeds, k, damping, iters)


def local_search_context(
    kg: dict,
    question: str,
    k_entities: int = 10,
    k_chunks: int = 5,
) -> DataFrame:
    """Context retrieval for local search: the top-k seeded-PageRank
    entities vote for the chunks that mention them (distinct entity per
    chunk; chunk score = sum of its entities' rounded scores). -> top
    ``k_chunks`` (chunk_id, chunk_score, n_entities).

    Shape: the ranked entity list is tiny (k rows) and broadcasts into the
    mention->canonical resolution join; the only corpus-sized shuffle is
    the per-chunk aggregate. The result carries :func:`local_search`'s
    checkpoint: pass it to ``iterutils.release`` once consumed."""
    with checkpoint_scope() as scope:
        ranked = scope.own(local_search(kg, question, k=k_entities))
        ment = (
            kg["mentions"]
            .select("chunk_id", "norm_name")
            .join(kg["canon_map"].select("norm_name", "canonical"), "norm_name")
            .select("chunk_id", F.col("canonical").alias("name"))
            .distinct()
        )
        return scope.result(
            ment.join(F.broadcast(ranked), "name")
            .groupBy("chunk_id")
            .agg(
                F.round(F.sum("score"), 6).alias("chunk_score"),
                F.count(F.lit(1)).cast("long").alias("n_entities"),
            )
            .orderBy(F.col("chunk_score").desc(), F.col("chunk_id").asc())
            .limit(k_chunks),
            ranked,
        )


def drift_search(
    kg: dict,
    question: str,
    level: int = 0,
    k_communities: int = 3,
    k: int = 10,
    damping: float = 0.85,
    iters: int = 10,
) -> DataFrame:
    """GraphRAG DRIFT-style hybrid search: GLOBAL first — the
    ``k_communities`` community summaries most similar to the question —
    then LOCAL: personalized PageRank seeded by those communities' member
    entities UNION the question's own matched entities. Broad thematic
    entry (communities catch paraphrased questions that match no entity
    surface form) refined by graph proximity. -> (name, score) top-k.

    Scale shape: only the community-id list (k_communities rows) reaches
    the driver; the member seed set — node-proportional — stays a
    DataFrame through the PPR reset join (operators/pagerank.py DataFrame
    seeds). The summaries are ranked from the materialized
    summary_embeddings stage, never re-embedded per call. Pass the result
    to ``iterutils.release`` once consumed."""
    top = select_top_k(kg["summary_embeddings"], question, level=level, k=k_communities)
    comm_ids = [r["community_id"] for r in top.select("community_id").collect()]
    members = (
        kg["communities"]
        .where((F.col("level") == level) & F.col("community_id").isin(comm_ids))
        .select("entity_id")
        .join(kg["canon_map"].select("entity_id", "canonical").distinct(), "entity_id")
        .select(F.col("canonical").alias("vertex"))
    )
    seeds = members.unionByName(_question_seeds(kg["canon_map"], question)).distinct()
    return _seeded_rank(kg, seeds, k, damping, iters)


def rerank_by_overlap(
    candidates: DataFrame,
    question: str,
    k: int = 5,
    text_col: str = "text",
    scorer_udf=None,
) -> DataFrame:
    """Retrieve -> RERANK second stage for the query path: re-order a small
    candidate set by question/text relevance — the production pattern where
    a cheap first stage (cosine / PPR context) over-fetches and a precise
    scorer re-orders the shortlist.

    Default scorer (zero Python, codegen'd): token-set Jaccard between the
    question and the candidate text in truncating integer micro-units
    (tokens = lowercased alphanumeric runs), deterministic and replicable
    in ANSI SQL. ``scorer_udf`` is the pluggable cross-encoder slot (same
    pattern as the C7/LLM slots): any Arrow-batched pandas UDF
    ``text -> double`` scoring against the question closed over in the UDF;
    production wires a real cross-encoder loaded once per executor.

    Scale: candidates are a shortlist (k to a few hundred rows) — the sort
    is bounded by the shortlist, never corpus-sized; the scorer runs once
    per candidate.
    """

    def toks(c):
        return F.array_distinct(
            F.filter(
                F.split(F.lower(F.regexp_replace(c, "[^a-zA-Z0-9 ]", " ")), " +"),
                lambda x: x != "",
            )
        )

    if scorer_udf is not None:
        scored = candidates.withColumn("rerank_micro", scorer_udf(F.col(text_col)))
    else:
        q = toks(F.lit(question))
        t = toks(F.col(text_col))
        scored = (
            candidates.withColumn("_i", F.size(F.array_intersect(t, q)).cast("bigint"))
            .withColumn("_u", F.size(F.array_union(t, q)).cast("bigint"))
            .withColumn(
                "rerank_micro",
                F.when(F.col("_u") == 0, F.lit(0).cast("bigint")).otherwise(
                    F.expr("(1000000 * _i) div _u")
                ),
            )
            .drop("_i", "_u")
        )
    w = Window.orderBy(
        F.col("rerank_micro").desc(), F.col("chunk_id").asc()
    )
    return (
        scored.withColumn("rerank_rnk", F.row_number().over(w).cast("long"))
        .where(F.col("rerank_rnk") <= k)
        .drop(text_col)
    )
