"""D6: entity-linking candidate generation + similarity scoring.

The reference resolves entities with a greedy O(n²) sequential scan over
MiniLM embeddings (cosine > 0.85, /root/reference/extraction/
entity_resolver.py:25-56) — order-dependent and undistributable. Here
(SURVEY.md D6/E3) linking is:

  1. distinct normalized names            (tiny vs. mentions: one row per
                                           unique surface form, not per use)
  2. blocking-key self-join               (equi-join on first token — Catalyst
                                           shuffle/broadcast hash join; only
                                           same-block pairs are scored, never
                                           all-pairs)
  3. char-3-gram Jaccard >= SIM_THRESHOLD (pure column expressions, codegen'd)
  4. connected components                 (operators/cc.py)

Scale notes: the candidate join is quadratic *within a block*; blocks are
first-token groups, so a pathological block (everything named "the ...")
degrades. Mitigations available at 100 TB: add a second blocking key
(length bucket or minhash band) and union the candidate sets; cap block
size with a frequency filter. The self-join condition ``a.name < b.name``
halves the pair count and the AQE skew-join splits oversized blocks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graphrag_litex_spark.functions.normalize import SIM_THRESHOLD
from graphrag_litex_spark.operators.normalize_ops import char_ngrams_col, jaccard_col

# Giant-block valve policy for the KG build: once the distinct-name count
# exceeds VALVE_NAMES, a single hot first-token block is a quadratic time
# bomb and the documented recall tradeoff of _block_keyed's refinement is the
# right default, so blocks over VALVE_BLOCK_SIZE names are refined.
VALVE_NAMES = 1_000_000
VALVE_BLOCK_SIZE = 10_000


def _block_keyed(
    names: DataFrame, feature: F.Column, max_block_size: int | None
) -> DataFrame:
    """(norm_name, block, feat): first-token blocking shared by both scorers.

    ``max_block_size`` is the pathological-block valve at 100 TB: a block
    whose name count exceeds it (everything starting with "the ...") is
    REFINED by a second blocking key (second token, else name length) so the
    quadratic stays within sub-blocks. Opt-in because refinement drops
    cross-sub-block pairs inside the giant block (documented recall
    tradeoff); default None keeps exact first-token semantics, identical to
    the single-process oracle. Tested with an adversarial boilerplate corpus
    in tests/test_scale_valves.py.
    """
    keyed = names.select(
        F.col("norm_name"),
        F.split_part(F.col("norm_name"), F.lit(" "), F.lit(1)).alias("block"),
        feature.alias("feat"),
    )
    if max_block_size is not None:
        big = (
            keyed.groupBy("block")
            .agg(F.count(F.lit(1)).alias("_bs"))
            .where(F.col("_bs") > max_block_size)
            .select("block", F.lit(True).alias("_big"))
        )
        sub = F.coalesce(
            F.nullif(F.split_part(F.col("norm_name"), F.lit(" "), F.lit(2)), F.lit("")),
            F.length("norm_name").cast("string"),
        )
        keyed = keyed.join(F.broadcast(big), "block", "left").select(
            "norm_name",
            F.when(F.col("_big").isNotNull(), F.concat_ws(" ", "block", sub))
            .otherwise(F.col("block"))
            .alias("block"),
            "feat",
        )
    return keyed


def _scored_pairs(keyed: DataFrame, sim: F.Column, threshold: float) -> DataFrame:
    """Self-join within blocks, ordered pairs, scored, thresholded."""
    a = keyed.alias("a")
    b = keyed.alias("b")
    return (
        a.join(
            b,
            (F.col("a.block") == F.col("b.block"))
            & (F.col("a.norm_name") < F.col("b.norm_name")),
        )
        .select(
            F.col("a.norm_name").alias("src"),
            F.col("b.norm_name").alias("dst"),
            sim.alias("sim"),
        )
        .where(F.col("sim") >= threshold)
    )


def candidate_pairs(
    names: DataFrame,
    threshold: float = SIM_THRESHOLD,
    max_block_size: int | None = None,
) -> DataFrame:
    """Similarity edges (src, dst, sim) between distinct normalized names.

    Blocking key = first token (functions.normalize.blocking_key); scoring =
    char-3-gram Jaccard (functions.normalize.name_similarity) — both
    replicated as Catalyst expressions so the single-process oracle and this
    distributed version produce identical edges.
    """
    keyed = _block_keyed(names, char_ngrams_col("norm_name"), max_block_size)
    return _scored_pairs(
        keyed, jaccard_col(F.col("a.feat"), F.col("b.feat")), threshold
    )


def embedding_candidate_pairs(
    names: DataFrame,
    threshold: float = 0.85,
    embed_udf=None,
    dim: int = 64,
    max_block_size: int | None = None,
) -> DataFrame:
    """Reference-shaped scorer: cosine of NAME EMBEDDINGS within blocks.

    This is the exact scoring semantics of the reference's resolver —
    embed each normalized name, link when cosine > 0.85
    (/root/reference/extraction/entity_resolver.py:32-42 and the threshold
    at :10-12) — restructured from its greedy O(n²) sequential scan into
    blocking + pair scoring + (downstream) connected components, so it is
    order-independent and distributable.

    ``embed_udf`` is the pluggable C7 slot: any Arrow-batched pandas UDF
    ``string -> array<double>`` (default: the deterministic hashing
    featurizer; production: a sentence-transformer UDF loaded once per
    executor). The embedding is computed ONCE per distinct normalized name —
    the names table is tiny relative to the mention stream — and pairs are
    scored JVM-side (``cosine_col``), so the Python cost is O(unique names),
    never O(pairs). Drop-in replacement for :func:`candidate_pairs` upstream
    of ``connected_components``.

    Note: the default hashing featurizer's cosine measures TOKEN overlap, so
    at the reference's 0.85 threshold it links only near-identical token
    sets (reorderings, subset-of-3 extensions). For the reference's fuzzy
    suffix-expansion behavior ("acme corp" ~ "acme corporation",
    MiniLM-driven) pass ``prefix_ngram_embed_udf()`` — a deterministic
    prefix-decayed char-ngram embedder whose cosine lands suffix expansions
    above 0.85 and unrelated tokens near 0.5 (tests/test_cc.py); production
    plugs a real sentence-transformer UDF into the same slot.
    """
    from graphrag_litex_spark.operators.similarity import cosine_col

    if embed_udf is None:
        from graphrag_litex_spark.querying.answer import make_embed_udf

        embed_udf = make_embed_udf(dim)
    keyed = _block_keyed(names, embed_udf(F.col("norm_name")), max_block_size)
    return _scored_pairs(
        keyed, F.round(cosine_col(F.col("a.feat"), F.col("b.feat")), 6), threshold
    )


_EMBEDDER_REGISTRY: dict[str, object] = {}


def register_link_embedder(name: str, factory) -> None:
    """Register a production C7 embedder under ``name`` so it is selectable
    from PipelineConfig(link_embedder=name) with ZERO pipeline code changes.

    ``factory`` is a zero-arg callable returning an Arrow-batched pandas UDF
    ``string -> array<double>`` (e.g. wrapping a sentence-transformer whose
    model loads once per executor inside the UDF closure). The NAME — not
    the callable — is what enters the pipeline config, so checkpoint
    fingerprints stay JSON-hashable and a resumed run re-resolves the same
    registered embedder."""
    _EMBEDDER_REGISTRY[name] = factory


def resolve_link_embedder(name: str):
    """Embedder-name -> UDF for embedding_candidate_pairs (None = the
    default hashing featurizer). Registry first, then built-ins."""
    if name in _EMBEDDER_REGISTRY:
        return _EMBEDDER_REGISTRY[name]()
    if name == "prefix_ngram":
        return prefix_ngram_embed_udf()
    if name == "hash":
        return None
    raise ValueError(
        f"unknown link_embedder {name!r}: register it with "
        "register_link_embedder(name, factory) or use 'hash'/'prefix_ngram'"
    )


def prefix_ngram_embed_udf(dim: int = 64):
    """C7 slot: Arrow-batched UDF over functions.normalize.prefix_ngram_embed
    — the deterministic stand-in that reproduces the reference resolver's
    suffix-expansion linking at its 0.85 cosine threshold."""
    from pyspark.sql import types as T

    from graphrag_litex_spark.functions.normalize import prefix_ngram_embed

    def _batch(s):  # no hints: explicit returnType form (pd imported lazily)
        return s.map(lambda t: prefix_ngram_embed(t or "", dim))

    return F.pandas_udf(_batch, T.ArrayType(T.DoubleType()))


def blocking_quality(
    names: DataFrame,
    threshold: float = SIM_THRESHOLD,
    max_block_size: int | None = None,
    sample_rate: float = 1.0,
) -> DataFrame:
    """Blocking-stage evaluation: pair completeness + reduction ratio.

    The two standard entity-resolution blocking metrics (Christen, TKDE'12
    survey), answering "is first-token blocking losing true matches, and
    how much work does it save?" for THIS corpus before a build is trusted:

      * pair completeness  = |true-match pairs that share a block| /
                             |true-match pairs|          (recall of blocking)
      * reduction ratio    = 1 - |same-block pairs| / |all pairs|
                             (fraction of the quadratic comparison space
                              the blocker prunes)

    Truth here is the scorer's own all-pairs decision (char-3-gram Jaccard
    >= ``threshold`` with NO blocking), so the metric isolates exactly what
    blocking discards — the same ground truth an all-pairs linker would
    produce. Ratios are emitted as truncating-division integer micro-units
    so the one-row result is engine-exact vs the SQL oracle.

    Scale: the truth pass is all-pairs (a non-equi self-join -> broadcast
    nested loop) and therefore an EVALUATION op, not a pipeline stage. At
    100 TB run it on a deterministic md5 sample of the distinct-names table
    (``sample_rate``; same md5-prefix rule as operators/sampling.py, so the
    sampled name set is rerun/engine stable) — pair completeness estimated
    on ~10^4 sampled names bounds blocking recall without the 10^16-pair
    scan. The pipeline's candidate join itself never runs all-pairs.
    """
    from graphrag_litex_spark.operators.sampling import _hex_threshold

    if not 0.0 < sample_rate <= 1.0:
        raise ValueError(f"sample_rate must be in (0,1], got {sample_rate}")
    if sample_rate < 1.0:
        names = names.where(
            F.substring(F.md5(F.col("norm_name")), 1, 6)
            < F.lit(_hex_threshold(sample_rate))
        )
    keyed = _block_keyed(names, char_ngrams_col("norm_name"), max_block_size)
    a, b = keyed.alias("a"), keyed.alias("b")
    pairs = a.join(b, F.col("a.norm_name") < F.col("b.norm_name")).select(
        (F.col("a.block") == F.col("b.block")).cast("long").alias("same_block"),
        (jaccard_col(F.col("a.feat"), F.col("b.feat")) >= threshold)
        .cast("long")
        .alias("is_match"),
    )
    zero = F.lit(0).cast("long")
    pair_agg = pairs.agg(
        F.count(F.lit(1)).alias("all_pairs"),
        F.coalesce(F.sum("same_block"), zero).alias("candidate_pairs"),
        F.coalesce(F.sum("is_match"), zero).alias("match_pairs"),
        F.coalesce(F.sum(F.col("same_block") * F.col("is_match")), zero).alias(
            "matches_blocked"
        ),
    )
    name_agg = keyed.agg(
        F.count(F.lit(1)).alias("n_names"),
        F.countDistinct("block").alias("n_blocks"),
    )
    # Both aggs are single rows; the crossJoin is 1x1. Truncating integer
    # division (`div`) matches DuckDB's `//` for the non-negative operands
    # here, so the micro-unit ratios are bit-identical across engines.
    return name_agg.crossJoin(pair_agg).select(
        "n_names",
        "n_blocks",
        "all_pairs",
        "candidate_pairs",
        "match_pairs",
        "matches_blocked",
        F.when(F.col("match_pairs") == 0, F.lit(1_000_000))
        .otherwise(F.expr("(matches_blocked * 1000000) div match_pairs"))
        .cast("long")
        .alias("pair_completeness_micro"),
        F.when(F.col("all_pairs") == 0, F.lit(0))
        .otherwise(F.expr("((all_pairs - candidate_pairs) * 1000000) div all_pairs"))
        .cast("long")
        .alias("reduction_ratio_micro"),
    )


def threshold_sweep(
    names: DataFrame,
    thresholds: list[float] | None = None,
    max_block_size: int | None = None,
) -> DataFrame:
    """Linking-threshold tuning curve: candidate-pair count at each
    threshold, from ONE scoring pass over the blocked pairs.

    Answers "how sensitive is the canon map to SIM_THRESHOLD?" before a
    rebuild: the blocked pairs are scored once (same join + Jaccard as
    :func:`candidate_pairs` with threshold 0), similarities quantized to
    integer micro-units (floor(sim * 1e6) of the same double both engines
    compute, so the quantization is bit-identical), and the tiny threshold
    list is cross-joined for per-threshold counts — |thresholds| rows out,
    never |thresholds| corpus scans. Unlike the all-pairs truth pass of
    :func:`blocking_quality` this stays within blocks, so it is cheap
    enough to run at full scale before every threshold change.
    """
    spark = names.sparkSession
    if thresholds is None:
        thresholds = [0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]
    tdf = spark.createDataFrame(
        [(int(round(t * 1_000_000)),) for t in sorted(thresholds)],
        "threshold_micro long",
    )
    keyed = _block_keyed(names, char_ngrams_col("norm_name"), max_block_size)
    a, b = keyed.alias("a"), keyed.alias("b")
    scored = (
        a.join(
            b,
            (F.col("a.block") == F.col("b.block"))
            & (F.col("a.norm_name") < F.col("b.norm_name")),
        )
        .select(
            F.floor(
                jaccard_col(F.col("a.feat"), F.col("b.feat")) * 1_000_000
            ).alias("sim_micro")
        )
    )
    return (
        scored.join(F.broadcast(tdf), F.col("sim_micro") >= F.col("threshold_micro"))
        .groupBy("threshold_micro")
        .agg(F.count(F.lit(1)).alias("n_candidate_pairs"))
        .join(tdf, "threshold_micro", "right")
        .select(
            "threshold_micro",
            F.coalesce("n_candidate_pairs", F.lit(0).cast("long")).alias(
                "n_candidate_pairs"
            ),
        )
    )
