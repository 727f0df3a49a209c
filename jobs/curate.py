"""spark-submit entry point: curate a raw document corpus into training
data — the composition every large-scale pretraining pipeline runs over
the toolbox operators (SURVEY.md training-data extensions; no reference
analog — the reference stops at KG construction).

    raw docs -> [optional] boilerplate-segment strip (corpus-wide
                sentence-frequency detection -> removal)
             -> [optional] PII redaction (map-only regex rewrite)
             -> [optional] benchmark decontamination (drop docs whose
                winnow fingerprints leak a held-out eval corpus)
             -> language-ID + quality annotation (one column pass)
             -> [optional] model-based quality gate (hashed-ngram linear
                classifier, fastText-style; trained weights via parquet)
             -> filter (lang / quality / token-count bounds
                [+ Gopher top-word repetition gate])
             -> exact dedup (normalized-text hash, keep min doc_id)
             -> near dedup (MinHash+LSH banded candidates -> exact-Jaccard
                verify -> connected components -> keeper map)
             -> [optional] semantic dedup (SemDeDup: IVF-cluster embeddings,
                prune within-cluster cosine near-dups lexical dedup misses)
             -> curated parquet + JSON report (per-stage counts + token
                accounting, the numbers a data lead actually asks for)

Usage:
    spark-submit --py-files graphrag_litex_spark.zip jobs/curate.py \
        --docs /path/to/documents_parquet --out /path/to/curated \
        [--langs en,de] [--min-quality 0.3] [--min-tokens 5]
        [--max-tokens 100000] [--jaccard-threshold 0.6] [--no-near-dedup]

Scale notes (100 TB stance): annotation is pure Catalyst columns fused
into the scan; each dedup stage is one key-shuffle (normalized-hash
groupBy; banded LSH equi-join — ids only through the shuffle, never
all-pairs); keeper application is a hash join on doc_id; no driver-side
loops and no per-row Python anywhere. Counts come from one aggregate per
stage boundary, not repeated count() scans of the raw input.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _embedding_source(frame, id_col, text_col, embedding_col, embed_dim):
    """(id, _emb) for the embedding-consuming stages (semantic dedup,
    cluster balancing): the precomputed ``embedding_col`` when the corpus
    carries one (the realistic 100 TB path — embed once, reuse), else the
    pluggable C7 embed UDF over the text."""
    from pyspark.sql import functions as F

    if embedding_col is not None:
        return frame.select(id_col, F.col(embedding_col).alias("_emb"))
    from graphrag_litex_spark.querying.answer import make_embed_udf

    return frame.select(id_col, make_embed_udf(embed_dim)(F.col(text_col)).alias("_emb"))


def _materialize(df, path: str):
    """Write a stage to parquet and reopen it: every downstream consumer
    (including the report's count jobs, which parquet answers from footer
    metadata) reads the stage instead of recomputing its whole lineage —
    the KG pipeline's checkpoint stance applied to curation."""
    df.write.mode("overwrite").parquet(path)
    return df.sparkSession.read.parquet(path)


def curate(
    spark,
    docs,
    langs: list[str] | None = None,
    min_quality: float = 0.0,
    min_tokens: int = 1,
    max_tokens: int | None = None,
    jaccard_threshold: float = 0.6,
    near_dedup: bool = True,
    boilerplate_min_frac: float | None = None,
    pii_redact: bool = False,
    max_top_word_frac: float | None = None,
    max_dup_5gram_frac: float | None = None,
    min_source_quality: float | None = None,
    source_col: str = "source",
    max_trigram_novelty: float | None = None,
    trigram_rare_threshold: int = 10,
    min_model_logit: float | None = None,
    model_weights=None,
    model_buckets: int = 1 << 18,
    max_dup_span_frac: float | None = None,
    remove_dup_spans_k: int | None = None,
    dup_span_max_occurrences: int | None = None,
    semantic_dedup_threshold: float | None = None,
    semantic_clusters: int = 64,
    embedding_col: str | None = None,
    embed_dim: int = 64,
    sample_rate: float | None = None,
    cluster_balance: int | None = None,
    cluster_balance_clusters: int = 64,
    mixture_budgets: dict[str, int] | None = None,
    holdout=None,
    max_contamination: float = 0.2,
    id_col: str = "doc_id",
    text_col: str = "text",
    stage_dir: str | None = None,
    out_path: str | None = None,
):
    """Programmatic API: returns (curated DataFrame, report dict).

    The curated frame carries the annotation columns (lang_pred,
    quality_score, n_tokens) so downstream sampling can stratify without
    recomputing them.

    ``stage_dir``/``out_path`` control the lazy-vs-materialized tradeoff:
    without them every report count re-executes its lineage (fine at test
    scale); with them the filtered/exact/final stages are written once and
    each count is a metadata read of the written stage — the only shape
    that holds at 100 TB, and what the CLI uses.
    """
    from pyspark.sql import functions as F

    from graphrag_litex_spark.operators.dedup import duplicate_keeper_map, norm_text_col
    from graphrag_litex_spark.operators.scrub import (
        boilerplate_segments,
        pii_redact_text,
        repetition_stats,
        strip_boilerplate,
    )
    from graphrag_litex_spark.operators.text_analysis import language_id, quality_features

    scrub_report: dict = {}
    if boilerplate_min_frac is not None:
        # Detect template sentences corpus-wide, strip them BEFORE
        # annotation so token counts / quality reflect the retained text.
        bl = boilerplate_segments(docs, id_col, text_col, min_doc_frac=boilerplate_min_frac)
        if stage_dir:
            bl = _materialize(bl, os.path.join(stage_dir, "boilerplate"))
        scrub_report["boilerplate_segments"] = bl.count()
        docs = strip_boilerplate(docs, bl, id_col, text_col)
    if pii_redact:
        # Map-only rewrite fused into the scan; n_pii rides along so the
        # single input-side aggregate below can report redaction volume.
        docs = pii_redact_text(docs, text_col)

    ann = quality_features(language_id(docs, text_col), text_col)
    if min_source_quality is not None:
        # Domain-level gate (RefinedWeb URL filtering): drop every doc from
        # sources whose exact-integer average quality misses the bar. The
        # aggregate reuses ann's quality_score — no second annotation pass;
        # the bad-source set is domain-cardinality-sized (AQE broadcasts).
        micros = F.floor(F.col("quality_score") * 1e6 + 0.5)
        bad_src = (
            ann.groupBy(source_col)
            .agg(F.round(F.sum(micros) / F.count(F.lit(1)) / 1e6, 6).alias("_avg"))
            .where(F.col("_avg") < min_source_quality)
            .select(source_col)
        )
        scrub_report["low_reputation_sources"] = bad_src.count()
        ann = ann.join(bad_src, source_col, "left_anti")
    if max_trigram_novelty is not None:
        # CCNet-style LM gate: drop gibberish/encoding-damaged docs whose
        # rare-trigram fraction exceeds the cap (self-corpus model).
        from graphrag_litex_spark.operators.text_analysis import trigram_novelty

        nov = trigram_novelty(
            docs, id_col, text_col, rare_threshold=trigram_rare_threshold
        )
        bad_nov = nov.where(F.col("rare_frac") > max_trigram_novelty).select(
            F.col("doc_id").alias(id_col)
        )
        scrub_report["novelty_removed"] = bad_nov.count()
        ann = ann.join(bad_nov, id_col, "left_anti")
    if holdout is not None:
        # Benchmark decontamination: drop candidate TRAINING docs whose
        # winnow-fingerprint profile overlaps the held-out eval corpus
        # beyond max_contamination (score each candidate as the "test" side
        # against the holdout as the reference corpus).
        from graphrag_litex_spark.operators.scrub import decontaminate

        scores = decontaminate(
            docs.select(id_col, text_col), holdout, id_col=id_col, text_col=text_col
        )
        leaked = scores.where(F.col("contamination") > max_contamination).select(
            F.col("test_id").alias(id_col)
        )
        if stage_dir:
            leaked = _materialize(leaked, os.path.join(stage_dir, "leaked"))
        scrub_report["contaminated_removed"] = leaked.count()
        ann = ann.join(leaked, id_col, "left_anti")
    if min_model_logit is not None:
        # Model-based quality gate (the fastText/classifier stage CCNet and
        # GPT-3-style pipelines run after the heuristics): linear inference
        # over hashed ngrams, model table broadcast by construction. A
        # trained+quantized model arrives via ``model_weights``; default is
        # the deterministic stand-in.
        from graphrag_litex_spark.operators.text_analysis import (
            hash_weights,
            quality_classifier_scores,
        )

        w = model_weights if model_weights is not None else hash_weights(
            spark, model_buckets
        )
        qc = quality_classifier_scores(
            docs, w, id_col, text_col, n_buckets=model_buckets
        )
        bad_model = qc.where(F.col("logit") < min_model_logit).select(
            F.col("doc_id").alias(id_col)
        )
        scrub_report["model_filtered"] = bad_model.count()
        ann = ann.join(bad_model, id_col, "left_anti")
    if max_top_word_frac is not None:
        # Gopher-style repetition gate: drop docs dominated by one word.
        reps = repetition_stats(docs, id_col, text_col)
        bad = reps.where(F.col("top_word_frac") > max_top_word_frac).select(
            F.col("id").alias(id_col)
        )
        ann = ann.join(bad, id_col, "left_anti")
    if max_dup_5gram_frac is not None:
        # Gopher n-gram repetition gate: drop docs whose repeated 5-gram
        # character coverage exceeds the cap (the signal that catches
        # looped paragraphs the single-word gate misses).
        from graphrag_litex_spark.operators.scrub import ngram_repetition_stats

        nreps = ngram_repetition_stats(
            docs, id_col, text_col, top_ns=(), dup_ns=(5,)
        )
        badn = nreps.where(F.col("dup5gram_char_frac") > max_dup_5gram_frac).select(
            id_col
        )
        ann = ann.join(badn, id_col, "left_anti")
    keep = (F.col("n_tokens") >= min_tokens) & (F.col("quality_score") >= min_quality)
    if max_tokens is not None:
        keep = keep & (F.col("n_tokens") <= max_tokens)
    if langs:
        keep = keep & F.col("lang_pred").isin(list(langs))
    ann = ann.withColumn("_keep", keep)

    # One aggregate over the annotated scan for the input-side numbers.
    aggs = [
        F.count("*").alias("docs_in"),
        F.sum("n_tokens").alias("tokens_in"),
        F.sum(F.col("_keep").cast("long")).alias("docs_after_filter"),
        F.sum(F.when(F.col("_keep"), F.col("n_tokens"))).alias("tokens_after_filter"),
    ]
    if pii_redact:
        aggs.append(F.sum("n_pii").alias("pii_redactions"))
        aggs.append(F.sum((F.col("n_pii") > 0).cast("long")).alias("pii_docs"))
    stats = ann.agg(*aggs).first()
    if pii_redact:
        scrub_report["pii_redactions"] = int(stats["pii_redactions"] or 0)
        scrub_report["pii_docs"] = int(stats["pii_docs"] or 0)

    filtered = ann.where("_keep").drop("_keep")
    if stage_dir:
        filtered = _materialize(filtered, os.path.join(stage_dir, "filtered"))

    # Exact dedup: normalized-text hash, keep the natural-min doc id.
    # One shuffle on the hash; survivors re-attach via a doc_id hash join.
    h = F.md5(norm_text_col(text_col))
    hashed = filtered.withColumn("_h", h)
    exact_keepers = hashed.groupBy("_h").agg(F.min(id_col).alias("_keeper"))
    exact = (
        hashed.join(exact_keepers, "_h")
        .where(F.col(id_col) == F.col("_keeper"))
        .drop("_h", "_keeper")
    )
    if stage_dir:
        exact = _materialize(exact, os.path.join(stage_dir, "exact"))
    n_exact = exact.count()

    report = {
        "docs_in": stats["docs_in"],
        "tokens_in": int(stats["tokens_in"] or 0),
        "docs_after_filter": int(stats["docs_after_filter"] or 0),
        "tokens_after_filter": int(stats["tokens_after_filter"] or 0),
        "exact_dups_removed": int(stats["docs_after_filter"] or 0) - n_exact,
        "filters": {
            "langs": langs,
            "min_quality": min_quality,
            "min_tokens": min_tokens,
            "max_tokens": max_tokens,
            "max_top_word_frac": max_top_word_frac,
            "max_dup_5gram_frac": max_dup_5gram_frac,
        },
        **scrub_report,
    }

    curated = exact
    if near_dedup:
        kmap = duplicate_keeper_map(
            exact.select(id_col, text_col),
            id_col=id_col,
            text_col=text_col,
            jaccard_threshold=jaccard_threshold,
        )
        curated = exact.join(
            kmap.where("is_keeper").select(F.col("doc_id").alias(id_col)), id_col
        )
        report["jaccard_threshold"] = jaccard_threshold
    if max_dup_span_frac is not None:
        # Gopher-style cross-corpus duplication gate: drop docs whose
        # duplicated-span exposure (fraction of tokens inside windows
        # repeated ANYWHERE in the corpus) exceeds the cap — catches
        # stitched/aggregator pages that are mostly other documents'
        # content, which per-doc repetition_stats cannot see. Runs after
        # doc-level dedup so exact/near duplicates don't inflate exposure.
        from graphrag_litex_spark.operators.span_dedup import duplicate_span_stats

        k_gate = remove_dup_spans_k or 8
        n_before_gate = curated.count()
        report.setdefault(
            "near_dups_removed", (n_exact - n_before_gate) if near_dedup else 0
        )
        exposed = duplicate_span_stats(
            curated.select(id_col, text_col), id_col=id_col, text_col=text_col, k=k_gate
        )
        bad_span = exposed.where(F.col("dup_token_frac") > max_dup_span_frac).select(
            F.col("doc_id").alias(id_col)
        )
        curated = curated.join(bad_span, id_col, "left_anti")
        report["dup_span_gated"] = n_before_gate - curated.count()
        report["max_dup_span_frac"] = max_dup_span_frac
    if remove_dup_spans_k is not None:
        # ExactSubstr-style span excision AFTER doc-level dedup (whole-doc
        # dups are cheaper to drop than to excise): repeated k-token
        # passages keep their globally-first occurrence only. Rewrites
        # text, so n_tokens is recomputed; docs excised to below
        # min_tokens are dropped (they are all-boilerplate shells).
        from graphrag_litex_spark.operators.span_dedup import remove_duplicate_spans
        from graphrag_litex_spark.operators.text_analysis import token_count_col

        n_before_span = curated.count()
        report.setdefault(
            "near_dups_removed", (n_exact - n_before_span) if near_dedup else 0
        )
        cleaned = remove_duplicate_spans(
            curated.select(id_col, text_col),
            id_col=id_col,
            text_col=text_col,
            k=remove_dup_spans_k,
            max_occurrences=dup_span_max_occurrences,
        )
        curated = (
            curated.drop(text_col)
            .join(
                cleaned.select(
                    F.col("doc_id").alias(id_col),
                    F.col("text").alias(text_col),
                    "removed_tokens",
                ),
                id_col,
            )
            .withColumn("n_tokens", token_count_col(text_col))
        )
        if stage_dir:
            curated = _materialize(curated, os.path.join(stage_dir, "span_dedup"))
        report["span_tokens_removed"] = int(
            curated.agg(F.sum("removed_tokens")).first()[0] or 0
        )
        curated = curated.drop("removed_tokens").where(F.col("n_tokens") >= min_tokens)
        report["span_emptied_docs"] = n_before_span - curated.count()
        report["dup_span_k"] = remove_dup_spans_k
    if semantic_dedup_threshold is not None:
        # SemDeDup pass AFTER the lexical dedups (it targets what they
        # can't see: paraphrases/translations with disjoint surface forms).
        # ``embedding_col`` uses precomputed embeddings when the corpus
        # carries them (the realistic 100 TB path — embed once, reuse);
        # otherwise the pluggable C7 embed UDF runs here.
        from graphrag_litex_spark.operators.dedup import semantic_dedup as _semdedup

        emb = _embedding_source(curated, id_col, text_col, embedding_col, embed_dim)
        n_before_sem = curated.count()
        # Pin the near-dedup accounting BEFORE semantic removals so the
        # end-of-function fallback can't attribute them to LSH dedup.
        report.setdefault(
            "near_dups_removed", (n_exact - n_before_sem) if near_dedup else 0
        )
        sd = _semdedup(
            emb,
            id_col=id_col,
            vec_col="_emb",
            n_clusters=semantic_clusters,
            threshold=semantic_dedup_threshold,
        )
        curated = curated.join(
            sd.where("kept").select(F.col("doc_id").alias(id_col)), id_col
        )
        if stage_dir:
            curated = _materialize(curated, os.path.join(stage_dir, "semantic"))
        report["semantic_dups_removed"] = n_before_sem - curated.count()
        report["semantic_dedup_threshold"] = semantic_dedup_threshold
    if cluster_balance is not None:
        # Diversity-preserving downsample AFTER dedup: cap each embedding
        # cluster at ``cluster_balance`` docs (the post-SemDeDup balancing
        # step). Uses the same embedding source as semantic dedup:
        # precomputed ``embedding_col`` when the corpus carries one, else
        # the pluggable C7 embed UDF.
        from graphrag_litex_spark.operators.sampling import cluster_balanced_sample

        emb_cb = _embedding_source(curated, id_col, text_col, embedding_col, embed_dim)
        n_before_cb = curated.count()
        report.setdefault(
            "near_dups_removed", (n_exact - n_before_cb) if near_dedup else 0
        )
        curated = cluster_balanced_sample(
            curated,
            emb_cb,
            per_cluster=cluster_balance,
            n_clusters=cluster_balance_clusters,
            id_col=id_col,
            vec_col="_emb",
        )
        report["cluster_balance"] = cluster_balance
        report["cluster_balance_removed"] = n_before_cb - curated.count()
    if mixture_budgets:
        # Data mixing: per-source token budgets applied AFTER dedup (mixing
        # duplicates would waste budget) on the annotation pass's n_tokens.
        from graphrag_litex_spark.operators.sampling import sample_mixture_by_tokens

        n_before_mix = curated.count()
        report.setdefault(
            "near_dups_removed", (n_exact - n_before_mix) if near_dedup else 0
        )
        curated = sample_mixture_by_tokens(
            curated, mixture_budgets, source_col=source_col, id_col=id_col
        )
        report["mixture_budgets"] = {k: int(v) for k, v in mixture_budgets.items()}
        report["mixture_removed"] = n_before_mix - curated.count()
    if sample_rate is not None and sample_rate < 1.0:
        # Final deterministic downsample AFTER dedup (sampling duplicates
        # would waste the kept budget). md5-threshold membership is
        # reproducible across re-runs/partitionings and NESTED: raising the
        # rate later only adds documents, keeping mixtures comparable.
        from graphrag_litex_spark.operators.sampling import deterministic_sample

        n_dedup = curated.count()
        report.setdefault(
            "near_dups_removed", (n_exact - n_dedup) if near_dedup else 0
        )
        curated = deterministic_sample(curated, sample_rate, id_col=id_col)
        report["sample_rate"] = sample_rate
    if out_path:
        curated = _materialize(curated, out_path)
    n_final = curated.count()
    report.setdefault("near_dups_removed", (n_exact - n_final) if near_dedup else 0)
    report["docs_out"] = n_final
    if out_path:
        report["tokens_out"] = int(curated.agg(F.sum("n_tokens")).first()[0] or 0)
    return curated, report


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description="Curate a document corpus for training")
    p.add_argument("--docs", required=True, help="parquet path of the documents table")
    p.add_argument("--out", required=True, help="output directory for the curated corpus")
    p.add_argument("--langs", default=None, help="comma-separated lang_pred allowlist")
    p.add_argument("--min-quality", type=float, default=0.0)
    p.add_argument("--min-tokens", type=int, default=1)
    p.add_argument("--max-tokens", type=int, default=None)
    p.add_argument("--jaccard-threshold", type=float, default=0.6)
    p.add_argument("--no-near-dedup", action="store_true")
    p.add_argument(
        "--strip-boilerplate",
        type=float,
        default=None,
        metavar="FRAC",
        help="strip sentence segments present in >= FRAC of docs",
    )
    p.add_argument("--pii-redact", action="store_true", help="redact emails/phones/IPs/SSNs/CCs")
    p.add_argument(
        "--max-top-word-frac",
        type=float,
        default=None,
        help="drop docs whose most frequent word exceeds this fraction (Gopher repetition gate)",
    )
    p.add_argument(
        "--max-dup-5gram-frac",
        type=float,
        default=None,
        help="drop docs whose repeated-5-gram char coverage exceeds this fraction (Gopher n-gram gate)",
    )
    p.add_argument(
        "--sample-rate",
        type=float,
        default=None,
        help="final deterministic downsample rate after dedup (md5-threshold, reproducible)",
    )
    p.add_argument(
        "--holdout",
        default=None,
        metavar="PATH",
        help="parquet of a held-out eval corpus: drop candidate docs whose "
        "winnow-fingerprint contamination against it exceeds --max-contamination",
    )
    p.add_argument("--max-contamination", type=float, default=0.2)
    p.add_argument(
        "--min-source-quality",
        type=float,
        default=None,
        help="drop ALL docs from sources whose average quality_score is below this",
    )
    p.add_argument("--source-col", default="source")
    p.add_argument(
        "--max-trigram-novelty",
        type=float,
        default=None,
        help="drop docs whose rare-char-trigram fraction exceeds this (LM gibberish gate)",
    )
    p.add_argument(
        "--trigram-rare-threshold",
        type=int,
        default=10,
        help="corpus count below which a trigram counts as rare",
    )
    p.add_argument(
        "--cluster-balance",
        type=int,
        default=None,
        metavar="N",
        help="keep at most N docs per embedding cluster after dedup "
        "(diversity-preserving downsample; uses --embedding-col or the embed slot)",
    )
    p.add_argument(
        "--cluster-balance-clusters",
        type=int,
        default=64,
        help="number of IVF clusters for --cluster-balance",
    )
    p.add_argument(
        "--mixture",
        default=None,
        metavar="SRC=TOKENS,...",
        help="per-source token budgets applied after dedup (data mixing), "
        "e.g. 'web=2000000,code=500000'; sources not listed are dropped",
    )
    p.add_argument(
        "--max-dup-span-frac",
        type=float,
        default=None,
        help="drop docs whose fraction of tokens inside corpus-repeated "
        "spans exceeds this (stitched/aggregator-page gate)",
    )
    p.add_argument(
        "--remove-dup-spans",
        type=int,
        default=None,
        metavar="K",
        help="excise corpus-repeated K-token spans after dedup, keeping the "
        "globally-first occurrence (ExactSubstr; typical K=50 for web text)",
    )
    p.add_argument(
        "--dup-span-max-occurrences",
        type=int,
        default=10000,
        help="spans repeated more than this many times are left to the "
        "boilerplate filter instead of excised (skew valve)",
    )
    p.add_argument(
        "--min-model-logit",
        type=float,
        default=None,
        help="drop docs scoring below this under the hashed-ngram linear "
        "quality model (fastText-style classifier gate)",
    )
    p.add_argument(
        "--model-weights",
        default=None,
        metavar="PATH",
        help="parquet (bucket, weight) table of a trained quantized model; "
        "default is the deterministic stand-in weights",
    )
    p.add_argument("--model-buckets", type=int, default=1 << 18)
    p.add_argument(
        "--semantic-dedup",
        type=float,
        default=None,
        metavar="COSINE",
        help="SemDeDup pass after lexical dedup: drop docs >= COSINE "
        "similar to an earlier-ranked cluster-mate",
    )
    p.add_argument("--semantic-clusters", type=int, default=64)
    p.add_argument(
        "--embedding-col",
        default=None,
        help="column of precomputed embeddings for --semantic-dedup "
        "(default: embed with the pluggable hash embedder)",
    )
    p.add_argument("--embed-dim", type=int, default=64)
    p.add_argument("--id-col", default="doc_id")
    p.add_argument("--text-col", default="text")
    args = p.parse_args(argv)

    from graphrag_litex_spark.session import job_session

    spark = job_session("kgx_curate")

    docs = spark.read.parquet(args.docs)
    curated, report = curate(
        spark,
        docs,
        langs=args.langs.split(",") if args.langs else None,
        min_quality=args.min_quality,
        min_tokens=args.min_tokens,
        max_tokens=args.max_tokens,
        jaccard_threshold=args.jaccard_threshold,
        near_dedup=not args.no_near_dedup,
        boilerplate_min_frac=args.strip_boilerplate,
        pii_redact=args.pii_redact,
        max_top_word_frac=args.max_top_word_frac,
        max_dup_5gram_frac=args.max_dup_5gram_frac,
        min_source_quality=args.min_source_quality,
        source_col=args.source_col,
        max_trigram_novelty=args.max_trigram_novelty,
        trigram_rare_threshold=args.trigram_rare_threshold,
        min_model_logit=args.min_model_logit,
        model_weights=spark.read.parquet(args.model_weights)
        if args.model_weights
        else None,
        model_buckets=args.model_buckets,
        max_dup_span_frac=args.max_dup_span_frac,
        remove_dup_spans_k=args.remove_dup_spans,
        dup_span_max_occurrences=args.dup_span_max_occurrences,
        semantic_dedup_threshold=args.semantic_dedup,
        semantic_clusters=args.semantic_clusters,
        embedding_col=args.embedding_col,
        embed_dim=args.embed_dim,
        sample_rate=args.sample_rate,
        cluster_balance=args.cluster_balance,
        cluster_balance_clusters=args.cluster_balance_clusters,
        mixture_budgets=(
            {
                kv.split("=", 1)[0]: int(float(kv.split("=", 1)[1]))
                for kv in args.mixture.split(",")
            }
            if args.mixture
            else None
        ),
        holdout=spark.read.parquet(args.holdout) if args.holdout else None,
        max_contamination=args.max_contamination,
        id_col=args.id_col,
        text_col=args.text_col,
        stage_dir=os.path.join(args.out, "_stages"),
        out_path=os.path.join(args.out, "documents"),
    )
    with open(os.path.join(args.out, "report.json"), "w") as fh:
        json.dump(report, fh, indent=1)
    print(json.dumps(report))
    return 0


if __name__ == "__main__":
    sys.exit(main())
