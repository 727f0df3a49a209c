"""Corpus scrubbing for training-data curation: PII redaction, boilerplate
segment detection/removal, and Gopher-style repetition signals.

All hot paths are pure column expressions (JVM regex / array functions, zero
Python), so they ride whole-stage codegen and cost no shuffle except where a
cross-document aggregate is inherent (boilerplate frequency counting). Every
regex below is written in the Java-regex AND RE2 common subset (no
lookaround, no backreferences, explicit character classes) so the DuckDB
oracles compile the literally identical pattern string.

No reference analog (the reference is a KG builder); these are the
curation operators a 100 TB pretraining pipeline runs before dedup.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# PII patterns — ordered: longer/more-specific first so one category never
# eats a substring another would claim after replacement. Shared verbatim
# with the DuckDB oracle via these module constants.
PII_PATTERNS: list[tuple[str, str]] = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"),
    ("cc", r"\b\d{4}[ -]\d{4}[ -]\d{4}[ -]\d{4}\b"),
    ("ssn", r"\b\d{3}-\d{2}-\d{4}\b"),
    ("phone", r"\b\d{3}[-.]\d{3}[-.]\d{4}\b"),
    ("ipv4", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"),
]

# Sentence-ish segment splitter (boilerplate grain): terminal punctuation
# runs followed by whitespace OR end-of-text — the alternation (not a
# lookahead, which RE2 lacks) keeps intra-token dots (emails, URLs,
# version numbers) inside their segment. RE2- and Java-regex compatible.
SEGMENT_SPLIT_RE = r"[.!?]+[ \t\r\n]+|[.!?]+$"


def pii_scrub(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """-> (id, text_redacted, n_email, n_cc, n_ssn, n_phone, n_ipv4,
    n_pii). Counts are measured on the ORIGINAL text per category
    (categories can overlap on pathological inputs; redaction order
    resolves ownership). Replacement tokens are `<EMAIL>`, `<CC>`, ... .

    Pure projection — no shuffle, no UDF; at 100 TB this is a map-only
    stage fused into whatever scan feeds it.
    """
    red = F.col(text_col)
    counts = []
    for name, pat in PII_PATTERNS:
        counts.append(
            F.coalesce(F.regexp_count(F.col(text_col), F.lit(pat)), F.lit(0)).alias(
                f"n_{name}"
            )
        )
        red = F.regexp_replace(red, pat, f"<{name.upper()}>")
    out = docs.select(F.col(id_col), red.alias("text_redacted"), *counts)
    total = sum((F.col(f"n_{name}") for name, _ in PII_PATTERNS), F.lit(0))
    return out.withColumn("n_pii", total.cast("long"))


def pii_redact_text(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """In-place variant for pipelines: rewrites ``text_col`` with the
    redacted text and appends ``n_pii`` (total matches across categories),
    keeping every other column. Pure withColumn — map-only, no join."""
    red = F.col(text_col)
    total = F.lit(0)
    for name, pat in PII_PATTERNS:
        total = total + F.coalesce(
            F.regexp_count(F.col(text_col), F.lit(pat)), F.lit(0)
        )
        red = F.regexp_replace(red, pat, f"<{name.upper()}>")
    return docs.withColumn("n_pii", total.cast("long")).withColumn(text_col, red)


def _segments_col(text_col: str):
    return F.filter(
        F.transform(F.split(F.col(text_col), SEGMENT_SPLIT_RE), lambda s: F.trim(s)),
        lambda s: s != "",
    )


def boilerplate_segments(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_doc_frac: float = 0.1,
    min_docs: int = 2,
    max_segment_chars: int | None = 1000,
) -> DataFrame:
    """Detect boilerplate: sentence-ish segments that occur in at least
    ``max(min_docs, min_doc_frac * n_docs)`` DISTINCT documents ->
    (segment, n_docs). The classic line/sentence-frequency scrub (C4's
    "three-sentence dedup" family).

    Shape: split -> explode -> distinct(id, segment) -> count by segment.
    Two shuffles (distinct + count), both on the segment key; the distinct
    pass bounds any document's contribution to 1 per segment, so a doc that
    repeats a template a million times cannot skew the count stage.
    ``max_segment_chars`` is the shuffle-width valve: a pathological
    megabyte "sentence" can't be boilerplate (it would never recur
    verbatim) and is dropped before the shuffle rather than shipped. The
    total-docs threshold is a broadcast crossJoin of a 1-row aggregate, not
    a driver collect.
    """
    total = docs.agg(F.count(F.lit(1)).alias("__n_docs"))
    exploded = docs.select(
        F.col(id_col).alias("__id"), F.explode(_segments_col(text_col)).alias("segment")
    )
    if max_segment_chars is not None:
        exploded = exploded.where(F.length("segment") <= max_segment_chars)
    segs = (
        exploded.distinct()
        .groupBy("segment")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    return (
        segs.crossJoin(F.broadcast(total))
        .where(
            F.col("n_docs")
            >= F.greatest(F.lit(min_docs), F.ceil(F.lit(min_doc_frac) * F.col("__n_docs")))
        )
        .select("segment", "n_docs")
    )


def strip_boilerplate(
    docs: DataFrame,
    boilerplate: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    joiner: str = ". ",
) -> DataFrame:
    """Remove detected boilerplate segments from every document, preserving
    the order and multiplicity of the surviving segments. -> original
    columns with ``text_col`` rewritten (docs whose every segment is
    boilerplate keep '').

    Shape: posexplode -> broadcast LEFT ANTI join on segment -> re-assemble
    via sort_array over collected (pos, seg) structs. The boilerplate set is
    small by construction (it passed a min-doc-frequency gate), so the anti
    join broadcasts; reassembly groups by doc id — one shuffle.
    """
    other = [c for c in docs.columns if c != text_col]
    segs = docs.select(
        *other, F.posexplode_outer(_segments_col(text_col)).alias("__pos", "__seg")
    )
    kept = segs.join(
        F.broadcast(boilerplate.select(F.col("segment").alias("__seg"))),
        on="__seg",
        how="left_anti",
    )
    reassembled = (
        kept.groupBy(*other)
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct(F.col("__pos"), F.col("__seg")))
                    ),
                    lambda s: s["__seg"],
                ),
                joiner,
            ).alias(text_col)
        )
    )
    # groupBy drops docs whose posexplode_outer produced only anti-joined
    # rows? No: left_anti removes segment rows; a doc with ALL segments
    # boilerplate loses every row. Re-attach such docs with empty text.
    all_ids = docs.select(*other)
    return (
        all_ids.join(reassembled, on=other, how="left")
        .withColumn(text_col, F.coalesce(F.col(text_col), F.lit("")))
    )


def decontaminate(
    test: DataFrame,
    train: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    window: int = 4,
    max_fp_df: int | None = None,
    broadcast_test: bool = False,
    broadcast_train: bool = False,
) -> DataFrame:
    """Train/test contamination check — the decontamination step every
    benchmark-respecting training pipeline runs: winnowing fingerprints
    (SIGMOD'03, the same relational operator as `doc_winnow_fp`) of both
    corpora, joined on the 64-bit fingerprint, scored per test document.

    -> (test_id, n_fps, n_shared_fps, n_train_docs, contamination) where
    contamination = shared fingerprints / test fingerprints (1.0 = the test
    doc's entire shingle profile appears in training data).

    Shape: two winnow passes (each one doc-keyed shuffle, see
    winnow_fingerprints) + ONE equi-join on the int64 fingerprint + a
    per-test aggregate. ``max_fp_df`` is the skew valve: fingerprints
    present in more than that many TRAIN docs are boilerplate shingles —
    uninformative for contamination and exactly the hot join keys — and
    are dropped before the shuffle (same family as n-gram `max_doc_freq`).

    ``broadcast_test`` is the 100 TB valve (same caller-measured idiom as
    the pipeline's canon-map valve): the usual regime is a megabyte-scale
    benchmark suite vs a corpus-scale train side, where the default
    shuffle join repartitions EVERY train fingerprint on fp just to meet a
    handful of test fingerprints. With the hint, the test fingerprints
    broadcast and the fp join runs map-side over the train winnow scan —
    zero train-side Exchange past the winnow itself. Leave False when the
    "test" side is itself corpus-scale (cross-corpus contamination audit);
    asserted Exchange-free in tests/test_scrub.py. ``broadcast_train`` is
    the mirror valve for the FLIPPED regime — scoring every corpus
    document against a small benchmark (test = corpus, train = benchmark,
    as `contaminated_ids` does): the benchmark fingerprints broadcast
    instead. The two hints are mutually exclusive.
    """
    from graphrag_litex_spark.operators.text_analysis import winnow_fingerprints

    if broadcast_test and broadcast_train:
        raise ValueError("broadcast_test and broadcast_train are mutually exclusive")
    tf = winnow_fingerprints(test, id_col, text_col, k, window)
    # Hint only the fp-join probe side: hinting `tf` itself would leak the
    # hint into the final totals-left-join (unsupported build side — Spark
    # logs a HintErrorLogger warning per plan compile).
    tf_probe = F.broadcast(tf) if broadcast_test else tf
    rf = winnow_fingerprints(train, id_col, text_col, k, window).select(
        F.col("id").alias("__tid"), "fp"
    )
    if max_fp_df is not None:
        ok = rf.groupBy("fp").agg(F.count(F.lit(1)).alias("__df")).where(
            F.col("__df") <= max_fp_df
        )
        rf = rf.join(ok.select("fp"), "fp")
    if broadcast_train:
        rf = F.broadcast(rf)
    totals = tf.groupBy("id").agg(F.count(F.lit(1)).alias("n_fps"))
    shared = (
        tf_probe.join(rf, "fp")
        .groupBy("id")
        .agg(
            F.count_distinct("fp").alias("n_shared_fps"),
            F.count_distinct("__tid").alias("n_train_docs"),
        )
    )
    return (
        totals.join(shared, "id", "left")
        .select(
            F.col("id").alias("test_id"),
            F.col("n_fps").cast("long").alias("n_fps"),
            F.coalesce("n_shared_fps", F.lit(0)).cast("long").alias("n_shared_fps"),
            F.coalesce("n_train_docs", F.lit(0)).cast("long").alias("n_train_docs"),
            F.round(
                F.coalesce("n_shared_fps", F.lit(0)) / F.col("n_fps"), 6
            ).alias("contamination"),
        )
    )


def contaminated_ids(
    corpus: DataFrame,
    benchmark: DataFrame,
    max_contamination: float = 0.0,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    window: int = 4,
) -> DataFrame:
    """The DROP LIST of benchmark decontamination -> (``id_col``) of
    corpus documents whose winnow-fingerprint contamination against the
    ``benchmark`` table EXCEEDS ``max_contamination`` (0.0 = any shared
    fingerprint drops the document). This is :func:`decontaminate` run in
    the flipped regime — every corpus doc scored against a small
    benchmark — with the benchmark fingerprints broadcast, so the corpus
    winnow scan never shuffles on fp. Anti-join the result against the
    corpus to train benchmark-clean. ``benchmark`` needs the same
    (``id_col``, ``text_col``) columns. Threshold note: shingles are
    character-grain, so unrelated English texts share a stray fingerprint
    (~0.03 observed on short docs) — 0.0 is maximally conservative;
    ~0.1-0.3 separates verbatim leakage from gram noise."""
    scores = decontaminate(
        corpus,
        benchmark,
        id_col=id_col,
        text_col=text_col,
        k=k,
        window=window,
        broadcast_train=True,
    )
    return scores.where(F.col("contamination") > max_contamination).select(
        F.col("test_id").alias(id_col)
    )


def repetition_stats(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Gopher-style (Rae et al. 2021, §A1.3) within-document repetition
    signals -> (id, n_words, dup_word_frac, top_word_frac,
    dup_segment_frac):

    - dup_word_frac: 1 - distinct_words / words
    - top_word_frac: occurrences of the most frequent word / words
    - dup_segment_frac: 1 - distinct_segments / segments (sentence grain)

    Words/segments from the same splitters as the rest of the toolbox so
    the DuckDB oracle is expressible verbatim. The word-frequency argmax is
    an explode -> two-level agg (per (id, word), then per id); both aggs
    hash-partition on id prefixes so AQE coalesces them into one exchange.
    """
    from graphrag_litex_spark.operators.dedup import norm_text_col

    words = F.split(norm_text_col(text_col), " ")
    base = docs.select(
        F.col(id_col).alias("id"),
        F.when(norm_text_col(text_col) == "", F.array()).otherwise(words).alias("__w"),
        _segments_col(text_col).alias("__s"),
    )
    flat = base.select(
        "id",
        F.size("__w").alias("n_words"),
        F.size(F.array_distinct("__w")).alias("n_dw"),
        F.size("__s").alias("n_segs"),
        F.size(F.array_distinct("__s")).alias("n_ds"),
        F.explode_outer("__w").alias("word"),
    )
    per_word = flat.groupBy("id", "n_words", "n_dw", "n_segs", "n_ds", "word").agg(
        F.count(F.lit(1)).alias("c")
    )
    top = per_word.groupBy("id", "n_words", "n_dw", "n_segs", "n_ds").agg(
        F.max(F.when(F.col("word").isNotNull(), F.col("c")).otherwise(0)).alias("top_c")
    )
    nz = lambda num, den: F.when(den > 0, num / den).otherwise(F.lit(0.0))  # noqa: E731
    return top.select(
        F.col("id"),
        F.col("n_words").cast("long").alias("n_words"),
        F.round(nz(F.col("n_words") - F.col("n_dw"), F.col("n_words")), 6).alias(
            "dup_word_frac"
        ),
        F.round(nz(F.col("top_c"), F.col("n_words")), 6).alias("top_word_frac"),
        F.round(nz(F.col("n_segs") - F.col("n_ds"), F.col("n_segs")), 6).alias(
            "dup_segment_frac"
        ),
    )


def ngram_repetition_stats(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    top_ns: tuple = (2, 3, 4),
    dup_ns: tuple = (5, 10),
) -> DataFrame:
    """Gopher-style (Rae et al. 2021, §A1.1) n-gram repetition signals —
    the character-coverage complement to :func:`repetition_stats`'s
    word/segment fractions -> one row per document:

    - ``top{n}gram_char_frac`` (n in ``top_ns``): characters covered by
      ALL occurrences of the single most frequent word n-gram / normalized
      characters. Tie-break: highest count, then lexicographically
      smallest gram — deterministic across engines and partitionings.
    - ``dup{n}gram_char_frac`` (n in ``dup_ns``): characters in
      occurrences BEYOND THE FIRST of every repeated n-gram / normalized
      characters. Overlapping occurrences count independently (a
      documented simplification of the paper's no-double-count coverage —
      same filtering power, and expressible in SQL for the oracle). Under
      occurrence-counting a degenerately repetitive document can exceed
      1.0 (e.g. "q q q ..."); that is a STRONGER repetition signal and
      thresholding semantics are unchanged.

    Words are the normalized-text tokens (`dedup.norm_text_col`, the
    toolbox-wide splitter), grams joined with a single space, so the
    DuckDB oracle is expressible verbatim. Documents with no n-grams for
    some n (or empty text) report 0.0.

    Plan (the 100 TB shape): the whole statistic is PER-DOCUMENT, so it is
    computed in a single zero-shuffle pass: normalization stays a JVM
    expression, gram counting runs as an Arrow-batched kernel (one Counter
    per document — integer-exact, and grams are ASCII-only after
    normalization so Python/JVM orderings coincide), and the final
    fractions are exactly-rounded JVM divisions. Measured 24.5s -> 2.0s
    over 50k docs at local[32] vs the relational formulation (exploded
    (id, n, gram) hash aggs that shuffle every gram occurrence string
    twice), which is the DuckDB contract oracle
    (``__spark_entry__.NGRAM_REPETITION_SQL``) the tests compare this
    kernel against. The scan is fanned out first
    (iterutils.scale_out) — a one-file corpus otherwise serializes the
    per-row work onto one core.
    """
    from graphrag_litex_spark.operators.dedup import norm_text_col
    from graphrag_litex_spark.operators.iterutils import scale_out

    ns = sorted(set(top_ns) | set(dup_ns))
    norm = norm_text_col(text_col)
    base = scale_out(docs, id_col).select(
        F.col(id_col).alias("_id"), norm.alias("_norm")
    )
    out_fields = [("top", n) for n in ns] + [("dup", n) for n in ns]
    id_type = dict(docs.dtypes)[id_col]
    schema_str = f"_id {id_type}, n_chars long, " + ", ".join(
        f"_{k}{n} long" for k, n in out_fields
    )

    def kernel(it):
        from collections import Counter

        import pyarrow as pa

        for rb in it:
            ids = rb.column(0)
            nch: list[int] = []
            cols: dict[str, list[int]] = {f"_{k}{n}": [] for k, n in out_fields}
            for s in rb.column(1).to_pylist():
                if s is None:
                    # NULL text: NULL n_chars, zero counts — exactly the
                    # oracle's row for an all-null normalization.
                    nch.append(None)
                    for n in ns:
                        cols[f"_top{n}"].append(0)
                        cols[f"_dup{n}"].append(0)
                    continue
                nch.append(len(s))
                toks = s.split(" ") if s else []
                length = len(toks)
                for n in ns:
                    if length < n:
                        cols[f"_top{n}"].append(0)
                        cols[f"_dup{n}"].append(0)
                        continue
                    grams = (
                        toks
                        if n == 1
                        else [
                            " ".join(toks[i : i + n])
                            for i in range(length - n + 1)
                        ]
                    )
                    best_c, best_g, dup = 0, "", 0
                    for g, c in Counter(grams).items():
                        if c > best_c or (c == best_c and g < best_g):
                            best_c, best_g = c, g
                        if c > 1:
                            dup += (c - 1) * len(g)
                    cols[f"_top{n}"].append(best_c * len(best_g))
                    cols[f"_dup{n}"].append(dup)
            yield pa.RecordBatch.from_arrays(
                [ids, pa.array(nch, pa.int64())]
                + [pa.array(cols[f"_{k}{n}"], pa.int64()) for k, n in out_fields],
                names=["_id", "n_chars"] + [f"_{k}{n}" for k, n in out_fields],
            )

    raw = base.mapInArrow(kernel, schema_str)
    # n_chars == 0 (empty normalized text) reports 0.0, and the division
    # is guarded so ANSI mode never sees a zero divisor.
    frac = lambda num: F.when(  # noqa: E731
        F.col("n_chars") > 0, F.round(num / F.col("n_chars"), 6)
    ).otherwise(F.lit(0.0))
    return raw.select(
        F.col("_id").alias(id_col),
        F.col("n_chars"),
        *[frac(F.col(f"_top{n}")).alias(f"top{n}gram_char_frac") for n in top_ns],
        *[frac(F.col(f"_dup{n}")).alias(f"dup{n}gram_char_frac") for n in dup_ns],
    )
