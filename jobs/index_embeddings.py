"""spark-submit entry point: build and query a persisted IVF-PQ vector
index — the FAISS-style layout that makes similarity search I/O-bounded
instead of compute-bounded at 100 TB (training-data toolbox; the reference
holds its embeddings in process memory, utils/embedding_utils.py).

Index layout under --out:

    codes/_cid=<list>/...parquet   PQ codes, PARTITIONED BY the coarse
                                   IVF list: an nprobe query becomes
                                   PartitionFilters at the scan — the
                                   non-probed lists are never read
                                   (asserted in tests + PLANS.md)
    meta.json                      coarse centroids + PQ codebooks +
                                   params (KBs of driver state)

Query = driver-side probe selection over the tiny centroid table, a
partition-pruned read of ~nprobe/n_centroids of a codes table that is
itself ~64x smaller than the raw vectors, ADC scoring (m element_at
lookups), and an optional EXACT RE-RANK: the top --rerank ADC candidates
(ids only) join back to the full-precision vectors for true-cosine
ordering — the standard two-stage PQ refinement, here a broadcast-able
candidate semi-join instead of an in-memory fetch.

Usage:
    python3 jobs/index_embeddings.py build --embeddings <parquet> --out <dir>
        [--centroids 8] [--m 8] [--ksub 16] [--lloyd 0]
    python3 jobs/index_embeddings.py query --index <dir> --vec-id <id>
        [--k 10] [--nprobe 2] [--rerank 0]
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def build_index(
    spark: SparkSession,
    embeddings: DataFrame,
    out_dir: str,
    n_centroids: int = 8,
    m: int = 8,
    ksub: int = 16,
    lloyd_iters: int = 0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    pca_k: int | None = None,
    whiten: bool = False,
) -> dict:
    """Train quantizers, encode the corpus, persist the layout. Returns the
    meta dict. One corpus pass for seeds (+1 per Lloyd round), one encode
    pass; the write shuffles on _cid once so each inverted list is
    contiguous parquet.

    ``pca_k``: FAISS-style PCA pre-transform (``PCAMatrixR`` semantics):
    fit a ``pca_k``-component model on the corpus (one extra Arrow-batched
    moments pass, operators/pca.py), project (optionally whitened) and
    train/encode the QUANTIZERS IN PROJECTED SPACE — coarse lists and PQ
    subspaces work on the decorrelated, energy-compacted axes, which is
    where product quantization's independent-subspace assumption actually
    holds. The model rides in ``meta.json``; append/query project through
    it automatically, and exact re-rank still scores RAW cosine against
    the full-precision vectors (PCA is candidate generation only)."""
    from graphrag_litex_spark.operators.similarity import (
        ivf_assign,
        ivf_centroids,
        pq_codebooks,
        pq_encode,
    )

    pca = None
    if pca_k is not None:
        from graphrag_litex_spark.operators.pca import pca_model, project_embeddings

        pmodel = pca_model(embeddings, pca_k, id_col=id_col, vec_col=vec_col)
        pca = {
            "mean": pmodel["mean"],
            "components": pmodel["components"],
            "eigvals": pmodel["eigvals"],
            "whiten": bool(whiten),
        }
        embeddings = (
            project_embeddings(
                embeddings, pmodel, vec_col=vec_col, out_col="_pvec",
                whiten=whiten,
            )
            .drop(vec_col)
            .withColumnRenamed("_pvec", vec_col)
        )

    cents = ivf_centroids(
        embeddings, n_centroids, id_col, vec_col, lloyd_iters=lloyd_iters
    )
    books = pq_codebooks(
        embeddings, m=m, ksub=ksub, id_col=id_col, vec_col=vec_col,
        lloyd_iters=lloyd_iters,
    )
    assigned = ivf_assign(embeddings, cents, vec_col=vec_col)
    codes = pq_encode(assigned, books, id_col=id_col, vec_col=vec_col,
                      keep_cols=["_cid"])
    # repartition on the list id so each partition directory is written by
    # the tasks that own it (no tiny-file explosion at high parallelism).
    codes.repartition("_cid").write.mode("overwrite").partitionBy("_cid").parquet(
        os.path.join(out_dir, "codes")
    )
    meta = {
        "centroids": cents,
        "codebooks": books,
        "n_centroids": n_centroids,
        "m": m,
        "ksub": ksub,
        "id_col": id_col,
        "vec_col": vec_col,
        "pca": pca,
    }
    with open(os.path.join(out_dir, "meta.json"), "w") as fh:
        json.dump(meta, fh)
    return meta


def _apply_pca(df: DataFrame, meta: dict, vec_col: str) -> DataFrame:
    """Project ``vec_col`` through the index's persisted PCA model (no-op
    for indexes built without one) — append/query must encode in the same
    space the quantizers were trained in."""
    pca = meta.get("pca")
    if not pca:
        return df
    from graphrag_litex_spark.operators.pca import project_embeddings

    model = {
        "mean": pca["mean"],
        "components": pca["components"],
        "eigvals": pca["eigvals"],
    }
    return (
        project_embeddings(
            df, model, vec_col=vec_col, out_col="_pvec", whiten=pca["whiten"]
        )
        .drop(vec_col)
        .withColumnRenamed("_pvec", vec_col)
    )


def _project_query(q: list[float], meta: dict) -> list[float]:
    """Driver-side mirror of :func:`_apply_pca` for the single query vector
    (same summation order and the same 1e-12 whitening epsilon as
    ``pca.project_embeddings``)."""
    pca = meta.get("pca")
    if not pca:
        return q
    out = []
    for ci, comp in enumerate(pca["components"]):
        s = 0.0
        for x, m, c in zip(q, pca["mean"], comp):
            s = s + (x - m) * c
        if pca["whiten"]:
            s = s / (pca["eigvals"][ci] + 1e-12) ** 0.5
        out.append(s)
    return out


def append_index(
    spark: SparkSession,
    new_embeddings: DataFrame,
    index_dir: str,
) -> dict:
    """Add new vectors to a persisted index with FROZEN quantizers — the
    FAISS ``add()`` semantics: centroids and codebooks come from
    ``meta.json`` (training is a one-time cost; an append encodes only the
    increment), so append-then-query equals encoding the union with the
    original codebooks. One encode pass over the increment, one
    partitioned parquet append; old lists are never read or rewritten.

    Crash behavior mirrors ``dedup.append_dedup_index``: parquet appends
    are per-file atomic, so a crash + retry can leave duplicate code rows
    per id. The rows are byte-identical (same frozen quantizers over the
    same vectors), and ``query_index`` dedups the probed codes on id
    before scoring — probe-sized, so idempotence costs nothing at index
    scale. Re-running a failed append to completion restores the contract
    exactly.
    """
    from graphrag_litex_spark.operators.similarity import ivf_assign, pq_encode

    with open(os.path.join(index_dir, "meta.json")) as fh:
        meta = json.load(fh)
    id_col, vec_col = meta["id_col"], meta["vec_col"]
    cents = [[float(x) for x in c] for c in meta["centroids"]]
    books = [
        [[float(x) for x in cent] for cent in sub] for sub in meta["codebooks"]
    ]
    new_embeddings = _apply_pca(new_embeddings, meta, vec_col)
    assigned = ivf_assign(new_embeddings, cents, vec_col=vec_col)
    codes = pq_encode(assigned, books, id_col=id_col, vec_col=vec_col,
                      keep_cols=["_cid"])
    codes.repartition("_cid").write.mode("append").partitionBy("_cid").parquet(
        os.path.join(index_dir, "codes")
    )
    return meta


def query_index(
    spark: SparkSession,
    index_dir: str,
    query_vec: list[float],
    k: int = 10,
    nprobe: int = 2,
    rerank: int = 0,
    embeddings: DataFrame | None = None,
) -> DataFrame:
    """-> (id, adist[, cosine]) top-k. ``rerank`` > 0 re-orders the top
    ``rerank`` ADC candidates by exact cosine against the full vectors
    (``embeddings`` required); the candidate set is k-heap-sized, so the
    refinement join broadcasts."""
    from graphrag_litex_spark.operators.similarity import ivf_probes, pq_adc_topk

    with open(os.path.join(index_dir, "meta.json")) as fh:
        meta = json.load(fh)
    q_raw = [float(x) for x in query_vec]
    # Candidate generation runs in the index's (possibly PCA'd) space;
    # exact re-rank below scores raw cosine on the full-precision vectors.
    q = _project_query(q_raw, meta)
    probes = ivf_probes(meta["centroids"], q, nprobe)
    id_col = meta["id_col"]
    # dropDuplicates(id): a crash-retried append_index leaves byte-identical
    # duplicate code rows per id (see its docstring) which would crowd the
    # top-k; the dedup runs over the PROBED partitions only — nprobe/n_lists
    # of the codes table, never the whole index.
    codes = (
        spark.read.parquet(os.path.join(index_dir, "codes"))
        .where(F.col("_cid").isin(probes))
        .dropDuplicates([id_col])
    )
    cand = pq_adc_topk(codes, q, meta["codebooks"], k=max(k, rerank), id_col=id_col)
    if rerank <= 0:
        return cand.limit(k)
    if embeddings is None:
        raise ValueError("rerank requires the full-precision embeddings table")
    from graphrag_litex_spark.operators.similarity import cosine_col, _query_lit

    vec_col = meta["vec_col"]
    return (
        embeddings.join(F.broadcast(cand.select(id_col, "adist")), id_col)
        .select(
            F.col(id_col),
            "adist",
            F.round(
                cosine_col(F.col(vec_col).cast("array<double>"), _query_lit(q_raw)),
                6,
            ).alias("cosine"),
        )
        .orderBy(F.col("cosine").desc(), F.col(id_col).asc())
        .limit(k)
    )


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description="Build/query a persisted IVF-PQ index")
    sub = p.add_subparsers(dest="cmd", required=True)
    b = sub.add_parser("build")
    b.add_argument("--embeddings", required=True)
    b.add_argument("--out", required=True)
    b.add_argument("--centroids", type=int, default=8)
    b.add_argument("--m", type=int, default=8)
    b.add_argument("--ksub", type=int, default=16)
    b.add_argument("--lloyd", type=int, default=0)
    b.add_argument("--id-col", default="vec_id")
    b.add_argument("--vec-col", default="embedding")
    b.add_argument("--pca", type=int, default=None, metavar="K",
                   help="PCA pre-transform: train/encode in top-K space")
    b.add_argument("--whiten", action="store_true",
                   help="unit-variance the PCA components (with --pca)")
    a = sub.add_parser("append")
    a.add_argument("--embeddings", required=True, help="the NEW vectors")
    a.add_argument("--index", required=True)
    q = sub.add_parser("query")
    q.add_argument("--index", required=True)
    q.add_argument("--embeddings", default=None, help="needed with --rerank")
    q.add_argument("--vec-id", type=int, required=True,
                   help="query = this row of --embeddings (or the index source)")
    q.add_argument("--k", type=int, default=10)
    q.add_argument("--nprobe", type=int, default=2)
    q.add_argument("--rerank", type=int, default=0)
    args = p.parse_args(argv)

    from graphrag_litex_spark.session import job_session

    spark = job_session("kgx_index")

    if args.cmd == "build":
        emb = spark.read.parquet(args.embeddings)
        meta = build_index(
            spark, emb, args.out, n_centroids=args.centroids, m=args.m,
            ksub=args.ksub, lloyd_iters=args.lloyd, id_col=args.id_col,
            vec_col=args.vec_col, pca_k=args.pca, whiten=args.whiten,
        )
        print(json.dumps({
            "indexed": spark.read.parquet(os.path.join(args.out, "codes")).count(),
            "n_centroids": meta["n_centroids"], "m": meta["m"], "ksub": meta["ksub"],
            "pca_k": len(meta["pca"]["components"]) if meta.get("pca") else None,
        }))
        return 0

    if args.cmd == "append":
        emb = spark.read.parquet(args.embeddings)
        meta = append_index(spark, emb, args.index)
        total = (
            spark.read.parquet(os.path.join(args.index, "codes"))
            .dropDuplicates([meta["id_col"]])
            .count()
        )
        print(json.dumps({"appended": emb.count(), "total_indexed": total}))
        return 0

    with open(os.path.join(args.index, "meta.json")) as fh:
        meta = json.load(fh)
    emb_path = args.embeddings
    emb = spark.read.parquet(emb_path) if emb_path else None
    if emb is None:
        raise SystemExit("query needs --embeddings to resolve --vec-id")
    qvec = [
        float(x)
        for x in emb.where(F.col(meta["id_col"]) == args.vec_id)
        .select(meta["vec_col"]).collect()[0][0]
    ]
    out = query_index(
        spark, args.index, qvec, k=args.k, nprobe=args.nprobe,
        rerank=args.rerank, embeddings=emb,
    )
    print(json.dumps([r.asDict() for r in out.collect()]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
