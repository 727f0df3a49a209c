"""Deduplication toolbox for large-scale corpus curation.

Beyond the reference's entity/claim dedup (E1/E4), a 100 TB training-data
pipeline needs document-level dedup. Every variant is DataFrame ops,
with text normalization always a JVM expression; the one Python step is
the MinHash signature kernel, a whole-batch ``mapInArrow`` (no per-row
Python):

  * exact          — hash-groupBy on the raw text (md5)
  * normalized     — hash-groupBy on whitespace/case/punct-normalized text
  * minhash + LSH  — one Arrow kernel per batch: word shingles -> k
                     minhashes (numpy XXH64, bit-equal to ``xxhash64``
                     with per-seed salt) -> band keys; then band rows ->
                     bucket join -> candidate pairs; the scalable
                     near-dup path (candidates verified with exact
                     Jaccard)
  * simhash        — 64-bit bitwise-majority signature over token hashes;
                     near-dups = equal signatures (or equal bands of it)
  * embedding cosine — near-dup pairs above a cosine threshold (brute
                     within a blocking key; see similarity.py for ANN)

Scale notes: exact/normalized dedup are single-shuffle groupBys with
map-side partial agg. MinHash-LSH is the designed 100 TB path: the only
quadratic step is within an LSH bucket, whose expected size is O(1) for
well-chosen (bands, rows); everything else is hash-partitioned. Skewed
buckets (boilerplate shingles) are left to AQE's skew join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graphrag_litex_spark.operators.iterutils import DRIVER_THRESHOLD

_KERNEL_TEXT_BYTES = 1 << 20


def norm_text_col(col="text"):
    """lower -> junk runs to single spaces -> trim, as ONE regex pass.

    Semantically identical to the original two-pass form
    ``trim(regexp_replace(regexp_replace(lower(c), '[^a-z0-9 ]+', ' '),
    '\\s+', ' '))`` (the DuckDB oracles still spell it that way): any
    maximal run of non-[a-z0-9] characters — junk, spaces, or any mix —
    collapses to one space either way (asserted over adversarial inputs in
    tests/test_scrub.py). The fused single pass measured 4.6x faster on
    this hot path (the never-matching space-bearing class
    ``[^a-z0-9 ]`` hits a pathological scan in the JVM regex engine).
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.trim(F.regexp_replace(F.lower(c), "[^a-z0-9]+", " "))


def exact_duplicates(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Groups of byte-identical documents -> (text_hash, n_docs, doc_ids)."""
    return (
        docs.groupBy(F.md5(F.col(text_col)).alias("text_hash"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min(id_col).alias("representative_id"),
            F.array_sort(F.collect_list(id_col)).alias("doc_ids"),
        )
        .where(F.col("n_docs") > 1)
    )


def normalized_duplicates(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Near-exact dup groups under case/punct/whitespace normalization."""
    return (
        docs.groupBy(F.md5(norm_text_col(text_col)).alias("norm_hash"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min(id_col).alias("representative_id"),
        )
        .where(F.col("n_docs") > 1)
    )


def shingle_rows(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    extra_cols: list[str] | None = None,
) -> DataFrame:
    """Distinct k-word shingles as ROWS: (id, [extra_cols...], s).

    The relational formulation — posexplode tokens, window-lead to build
    shingles, row-level distinct — is the 100 TB path: no array-typed
    higher-order functions (which drop out of codegen and/or go quadratic
    on string arrays), every step a codegen'd projection or one shuffle.
    Docs shorter than k tokens contribute their whole normalized text as a
    single shingle (same semantics as minhash_signatures).
    """
    from pyspark.sql import Window

    n_part = max(docs.sparkSession.sparkContext.defaultParallelism * 2, 8)
    extra = list(extra_cols or [])
    base = docs.repartition(n_part, F.col(id_col)).select(
        F.col(id_col).alias("id"), *extra, norm_text_col(text_col).alias("norm")
    )
    toks = base.select(
        "id", *extra, F.posexplode(F.split("norm", " ")).alias("pos", "tok")
    )
    w = Window.partitionBy("id").orderBy("pos")
    parts = [F.col("tok")] + [
        f for off in range(1, k) for f in (F.lit(" "), F.lead("tok", off).over(w))
    ]
    # concat null-propagates: trailing positions (missing leads) become NULL.
    full = (
        toks.select("id", *extra, F.concat(*parts).alias("s"))
        .where(F.col("s").isNotNull())
    )
    short = base.where(F.size(F.split("norm", " ")) < k).select(
        "id", *extra, F.col("norm").alias("s")
    )
    return full.unionByName(short).distinct()


def _string_spans(arr):
    """(data, starts, lengths) of an Arrow string array: its values as byte
    spans of the shared uint8 data buffer (a view, no copy)."""
    import numpy as np
    import pyarrow as pa

    if len(arr) == 0:
        empty = np.zeros(0, np.int64)
        return np.zeros(0, np.uint8), empty, empty
    _, offsets, data = arr.buffers()[:3]
    width = np.int64 if pa.types.is_large_string(arr.type) else np.int32
    off = np.frombuffer(offsets, width)[arr.offset : arr.offset + len(arr) + 1]
    off = off.astype(np.int64)
    buf = np.frombuffer(data, np.uint8) if data is not None else np.zeros(0, np.uint8)
    return buf, off[:-1], np.diff(off)


def _distinct_shingles(norm, k: int):
    """(doc, shingles): the distinct k-shingles of every value of the
    non-NULL string array ``norm``, as a string array sorted by document,
    then shingle (``doc[j]`` is the index of the value shingle j came
    from; every value has at least one shingle).

    Values are tokens joined by single spaces (``""`` is one empty token),
    exactly ``split(norm, " ")``: a k-shingle is the byte span from a
    token's start to the end of the token k-1 further on, and a value of
    fewer than k tokens is one shingle, its whole text.
    """
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    data, start, length = _string_spans(norm)
    end = start + length
    lo, hi = (start[0], end[-1]) if len(norm) else (0, 0)
    spaces = lo + np.flatnonzero(data[lo:hi] == 32)
    # A value's first token starts at its start, the others one past a
    # space; its last token ends at its end, the others at a space.
    ntok = np.diff(np.searchsorted(spaces, np.append(start, hi))) + 1
    first = np.cumsum(ntok) - ntok
    last = first + ntok - 1
    not_first = np.ones(int(ntok.sum()), bool)
    not_first[first] = False
    not_last = np.roll(not_first, -1)  # token t is last iff t + 1 is first
    tok_start = np.empty(not_first.size, np.int64)
    tok_start[not_first] = spaces + 1
    tok_start[first] = start
    tok_end = np.empty_like(tok_start)
    tok_end[not_last] = spaces
    tok_end[last] = end

    nsh = np.maximum(ntok - k + 1, 1)
    doc = np.repeat(np.arange(len(norm), dtype=np.int32), nsh)
    j = np.arange(doc.size) - np.repeat(np.cumsum(nsh) - nsh, nsh)
    t0 = np.repeat(first, nsh) + j
    s0 = tok_start[t0]
    s_len = tok_end[np.minimum(t0 + k - 1, np.repeat(last, nsh))] - s0
    offsets = np.zeros(doc.size + 1, np.int64)
    np.cumsum(s_len, out=offsets[1:])
    gather = np.repeat(s0 - offsets[:-1], s_len) + np.arange(offsets[-1])
    shingles = pa.StringArray.from_buffers(
        doc.size, pa.py_buffer(offsets.astype(np.int32)), pa.py_buffer(data[gather])
    )
    # Sorted by (doc, shingle), a repeated shingle follows its first copy.
    # (A hash group_by would load pyarrow.acero: ~40 MB more per worker.)
    order = pc.sort_indices(
        pa.table({"d": doc, "s": shingles}), [("d", "ascending"), ("s", "ascending")]
    )
    doc, shingles = doc[order.to_numpy()], shingles.take(order)
    keep = np.ones(doc.size, bool)
    keep[1:] = pc.not_equal(shingles[1:], shingles[:-1]).to_numpy(zero_copy_only=False)
    keep[1:] |= doc[1:] != doc[:-1]
    return doc[keep], shingles.filter(pa.array(keep))


def _minhash_batch(ids, norm, k: int, num_hashes: int, bands: int):
    """One Arrow batch of (id, normalized text) -> (id, shingles, sig,
    buckets) in numpy lanes, bit-equal to the relational formulation.

    Every distinct shingle (``_distinct_shingles``) is hashed once with
    ``hash_spans``; hash i of the signature is ``hash_int(i, seed=shingle
    hash)`` — what ``F.xxhash64(s, F.lit(i))`` computes — and ``sig[i]``
    its signed minimum over the document. ``buckets[b]`` is the LSH band
    key: ``xxhash64`` of the comma-joined decimal slice
    ``sig[b*r:(b+1)*r]``, r = num_hashes // bands. NULL text has no
    shingles and yields no row (as ``size(NULL)`` under ANSI did).
    """
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    from graphrag_litex_spark.functions.xxh64 import hash_int_lanes, hash_spans

    if norm.null_count:
        keep = norm.is_valid()
        ids, norm = ids.filter(keep), norm.filter(keep)
    n_docs = len(norm)
    doc, shingles = _distinct_shingles(norm, k)
    seg = np.flatnonzero(np.diff(doc, prepend=-1))
    h = hash_spans(*_string_spans(shingles))
    sig = np.empty((n_docs, num_hashes), np.int64)
    for i in range(num_hashes):
        sig[:, i] = np.minimum.reduceat(hash_int_lanes(i, h).view(np.int64), seg)
    rows = num_hashes // bands
    dec = [pc.cast(pa.array(sig[:, i]), pa.string()) for i in range(bands * rows)]
    buckets = np.empty((n_docs, bands), np.int64)
    for b in range(bands):
        keys = pc.binary_join_element_wise(*dec[b * rows : (b + 1) * rows], ",")
        buckets[:, b] = hash_spans(*_string_spans(keys)).view(np.int64)

    def lists(offsets, values):
        return pa.ListArray.from_arrays(pa.array(offsets.astype(np.int32)), values)

    return pa.RecordBatch.from_arrays(
        [
            ids,
            lists(np.append(seg, doc.size), shingles),
            lists(np.arange(n_docs + 1) * num_hashes, pa.array(sig.ravel())),
            lists(np.arange(n_docs + 1) * bands, pa.array(buckets.ravel())),
        ],
        names=["id", "shingles", "sig", "buckets"],
    )


def minhash_signatures(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
) -> DataFrame:
    """-> (id, shingles array<string>, sig array<long>, buckets
    array<long>): one row per document with non-NULL text — its distinct
    k-word shingles, its ``num_hashes`` MinHash values and its ``bands``
    LSH bucket keys (see ``_minhash_batch``).

    Normalization is the JVM expression ``norm_text_col``; everything after
    it is ONE ``mapInArrow`` kernel over the scan (fanned out by
    ``scale_out`` when it under-parallelizes) — no window, no aggregate,
    no shuffle of its own. Its values are bit-equal
    to the relational formulation (shingle window, 32 ``min(xxhash64(s,
    i))`` aggregates, ``concat_ws`` band keys), which the tests keep as the
    reference. Document ids are expected unique: each input row is signed
    on its own.
    """
    from graphrag_litex_spark.operators.iterutils import scale_out

    id_type = dict(docs.dtypes)[id_col]

    def kernel(batches):
        for rb in batches:
            # Shingles hold ~k bytes per text byte and the kernel indexes
            # them per byte: slices of ~_KERNEL_TEXT_BYTES of text bound
            # its memory whatever the Arrow batch size (a 1 MB slice peaks
            # ~57 MB above the worker's baseline, a 4 MB one ~230 MB).
            step = max(1, len(rb) * _KERNEL_TEXT_BYTES // max(rb.column(1).nbytes, 1))
            for i in range(0, len(rb), step):
                part = rb.slice(i, step)
                yield _minhash_batch(part.column(0), part.column(1), shingle_k, num_hashes, bands)

    return (
        scale_out(docs, id_col)
        .select(F.col(id_col).alias("id"), norm_text_col(text_col).alias("norm"))
        .mapInArrow(
            kernel,
            f"id {id_type}, shingles array<string>, sig array<bigint>, "
            "buckets array<bigint>",
        )
    )


def _band_rows(base: DataFrame) -> DataFrame:
    """(id, buckets) -> one (id, band, bucket) row per band. Shared by the
    batch candidate join and the persisted incremental index so a
    batch-built index and an incrementally-probed one can never disagree
    on bucketing."""
    return base.select("id", F.posexplode("buckets").alias("band", "bucket"))


def minhash_lsh_candidates(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    jaccard_threshold: float = 0.6,
    verify: str = "exact",
) -> DataFrame:
    """Near-duplicate pairs via MinHash+LSH, verified by exact Jaccard.

    -> (id_a, id_b, jaccard) with id_a < id_b, jaccard >= threshold.

    ``verify``: "exact" re-checks candidates with exact shingle-set Jaccard
    (the oracle-matched default); "estimate" scores them with the MinHash
    estimator (fraction of equal signature components) — O(num_hashes) per
    pair instead of O(|shingles|), and the mode a persisted signature index
    supports (``incremental_dedup_pairs`` verifies the same way, so a batch
    "estimate" run is the equivalence baseline for incremental runs).

    The result is lazy over the signature checkpoint: pass it to
    ``iterutils.release`` once consumed.
    """
    from graphrag_litex_spark.operators.iterutils import checkpoint_scope

    if verify not in ("exact", "estimate"):
        raise ValueError(f"unknown verify mode: {verify!r}")
    with checkpoint_scope() as scope:
        # The result reads the signatures four times (both sides of the band
        # self-join, both sides of the verify join): checkpointed, the kernel
        # runs once. At cluster scale this would be a persisted stage table.
        base = scope.checkpoint(
            minhash_signatures(docs, id_col, text_col, shingle_k, num_hashes, bands)
        )
        banded = _band_rows(base)

        # Candidate ids only through the join+dedup shuffle (no array
        # payloads); shingles re-attached once per UNIQUE pair for verification.
        a = banded.alias("a")
        b = banded.alias("b")
        cand = (
            a.join(
                b,
                (F.col("a.band") == F.col("b.band"))
                & (F.col("a.bucket") == F.col("b.bucket"))
                & (F.col("a.id") < F.col("b.id")),
            )
            .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
            .distinct()
        )
        if verify == "estimate":
            sigs = base.select("id", "sig")
            out = _estimate_verified_pairs(
                cand, sigs, num_hashes, jaccard_threshold
            ).withColumnRenamed("est_jaccard", "jaccard")
        else:
            sh_a = base.select(F.col("id").alias("id_a"), F.col("shingles").alias("sh_a"))
            sh_b = base.select(F.col("id").alias("id_b"), F.col("shingles").alias("sh_b"))
            pairs = cand.join(sh_a, "id_a").join(sh_b, "id_b")
            inter = F.size(F.array_intersect("sh_a", "sh_b"))
            union = F.size(F.array_union("sh_a", "sh_b"))
            out = (
                pairs.withColumn("jaccard", F.when(union == 0, F.lit(1.0)).otherwise(inter / union))
                .where(F.col("jaccard") >= jaccard_threshold)
                .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
            )
        return scope.result(out, base)


def _estimate_verified_pairs(
    cand: DataFrame, sigs: DataFrame, num_hashes: int, threshold: float
) -> DataFrame:
    """Score candidate (id_a, id_b) pairs with the MinHash Jaccard
    estimator: fraction of equal signature components. One codegen'd
    zip_with+aggregate per pair over fixed-width arrays — no shingle
    payloads through any shuffle."""
    s_a = sigs.select(F.col("id").alias("id_a"), F.col("sig").alias("sig_a"))
    s_b = sigs.select(F.col("id").alias("id_b"), F.col("sig").alias("sig_b"))
    eq = F.aggregate(
        F.zip_with(
            "sig_a",
            "sig_b",
            lambda x, y: F.when(x == y, F.lit(1)).otherwise(F.lit(0)),
        ),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    return (
        cand.join(s_a, "id_a")
        .join(s_b, "id_b")
        .withColumn("est_jaccard", eq / F.lit(float(num_hashes)))
        .where(F.col("est_jaccard") >= threshold)
        .select("id_a", "id_b", F.round("est_jaccard", 6).alias("est_jaccard"))
    )


def build_dedup_index(
    docs: DataFrame,
    index_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
) -> dict:
    """Persist a MinHash-LSH dedup index: ``bands/`` (id, band, bucket —
    partitioned by band) + ``signatures/`` (id, sig) + ``_meta.json``.

    The index is O(1) per document (num_hashes longs + bands bucket rows)
    — NOT the shingle sets — so at 100 TB of text the index is ~100k×
    smaller than the corpus and re-shingling old documents is never needed
    again: a daily increment probes the band table (ids-only equi-join,
    AQE broadcasts the small increment side) and verifies with the
    signature estimator.
    """
    import json
    import os

    _write_index(
        minhash_signatures(docs, id_col, text_col, shingle_k, num_hashes, bands),
        index_dir,
        "overwrite",
    )
    meta = {
        "version": 1,
        "shingle_k": shingle_k,
        "num_hashes": num_hashes,
        "bands": bands,
        "id_col": id_col,
    }
    with open(os.path.join(index_dir, "_meta.json"), "w") as f:
        json.dump(meta, f)
    return meta


def _write_index(signatures: DataFrame, index_dir: str, mode: str) -> None:
    """Write ``signatures/`` and ``bands/`` of an index (``mode``
    "overwrite" or "append") from one checkpoint of ``signatures``, freed
    once both writes are done."""
    import os

    from graphrag_litex_spark.operators.iterutils import checkpoint_scope

    with checkpoint_scope() as scope:
        base = scope.checkpoint(signatures.select("id", "sig", "buckets"))
        base.select("id", "sig").write.mode(mode).parquet(os.path.join(index_dir, "signatures"))
        _band_rows(base).write.mode(mode).partitionBy("band").parquet(
            os.path.join(index_dir, "bands")
        )


def _read_index_meta(index_dir: str) -> dict:
    import json
    import os

    with open(os.path.join(index_dir, "_meta.json")) as f:
        return json.load(f)


def append_dedup_index(docs: DataFrame, index_dir: str, text_col: str = "text") -> dict:
    """Append new documents' signatures + band rows to an existing index
    (hash params come from ``_meta.json`` so bucketing can never drift).

    Crash behavior: parquet appends are per-file atomic, but the TWO
    appends (signatures, then bands) are not jointly atomic — a crash
    between them followed by a retry leaves duplicate signature rows for
    the batch's ids (and a partial band append + retry leaves duplicate
    band rows). Both duplications are absorbed downstream: the
    candidate-pair ``distinct`` collapses duplicate band rows, and
    ``incremental_dedup_pairs`` dedups its verified output on
    (id_a, id_b) — candidate-sized, so the idempotence costs nothing at
    index scale. No compensation log needed; re-running a failed append
    to completion restores the contract exactly.
    """
    meta = _read_index_meta(index_dir)
    _write_index(
        minhash_signatures(
            docs, meta["id_col"], text_col, meta["shingle_k"], meta["num_hashes"], meta["bands"]
        ),
        index_dir,
        "append",
    )
    return meta


def incremental_dedup_pairs(
    new_docs: DataFrame,
    index_dir: str,
    text_col: str = "text",
    est_threshold: float = 0.6,
) -> DataFrame:
    """Near-dup pairs for an INCREMENT against a persisted index, without
    touching old documents' text: new docs are shingled/signed once, their
    band rows probe the index's band table and each other, and candidates
    are verified with the MinHash estimator over signatures from the index
    — the only scan of old data is the ids-only band join and a
    semi-joined signature fetch.

    -> (id_a, id_b, est_jaccard), id_a < id_b, est >= ``est_threshold``.
    Equivalence contract (tested): old-batch pairs ∪ incremental pairs ==
    ``minhash_lsh_candidates(all, verify="estimate")`` at the same
    threshold.

    The result is lazy over the increment's signature checkpoint: pass it
    to ``iterutils.release`` once consumed.
    """
    import os

    from graphrag_litex_spark.operators.iterutils import checkpoint_scope

    spark = new_docs.sparkSession
    meta = _read_index_meta(index_dir)
    with checkpoint_scope() as scope:
        # The estimator verify needs only signatures — drop the shingle arrays
        # BEFORE the checkpoint so neither the checkpoint write nor any probe
        # join ships them (the batch path keeps shingles for exact-Jaccard).
        base = scope.checkpoint(
            minhash_signatures(
                new_docs, meta["id_col"], text_col, meta["shingle_k"], meta["num_hashes"],
                meta["bands"],
            ).select("id", "sig", "buckets")
        )
        banded_new = _band_rows(base)
        bands_old = spark.read.parquet(os.path.join(index_dir, "bands")).select(
            "id", "band", "bucket"
        )
        a = banded_new.alias("a")
        # new × indexed (either orientation — the increment's ids need not
        # all sort above the index's), and new × new.
        cand_old = (
            a.join(
                bands_old.alias("b"),
                (F.col("a.band") == F.col("b.band"))
                & (F.col("a.bucket") == F.col("b.bucket"))
                & (F.col("a.id") != F.col("b.id")),
            )
            .select(
                F.least("a.id", "b.id").alias("id_a"),
                F.greatest("a.id", "b.id").alias("id_b"),
            )
            .distinct()
        )
        cand_new = (
            a.join(
                banded_new.alias("c"),
                (F.col("a.band") == F.col("c.band"))
                & (F.col("a.bucket") == F.col("c.bucket"))
                & (F.col("a.id") < F.col("c.id")),
            )
            .select(F.col("a.id").alias("id_a"), F.col("c.id").alias("id_b"))
            .distinct()
        )
        cand = cand_old.unionByName(cand_new).distinct()
        # Increment signatures win over (identical) indexed ones for ids present
        # in both; the anti join is map-side (small increment id set broadcasts)
        # vs. a groupBy-dedup that would re-shuffle EVERY indexed signature.
        sig_old = spark.read.parquet(os.path.join(index_dir, "signatures"))
        sigs = sig_old.join(
            base.select("id"), "id", "left_anti"
        ).unionByName(base.select("id", "sig"))
        # dropDuplicates on the PAIR key, not distinct on all columns: a
        # crash-retried append_dedup_index leaves duplicate signature rows per
        # old id (see its docstring), which would otherwise fan each candidate
        # out once per copy. Signatures for one id are byte-identical (same
        # hash params over the same text), so any surviving row carries the
        # same est_jaccard; the dedup runs over the post-threshold candidate
        # set — tiny next to the index — never over the signatures themselves.
        out = _estimate_verified_pairs(
            cand, sigs, meta["num_hashes"], est_threshold
        ).dropDuplicates(["id_a", "id_b"])
        return scope.result(out, base)


def merge_keeper_map(
    all_ids: DataFrame,
    old_map: DataFrame,
    new_pairs: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Fold an increment's near-dup pairs into an existing keeper map
    without re-running CC over the old pair graph: the old map's
    (doc_id → keeper_id) rows are a spanning star of every old component,
    so CC over {old stars} ∪ {new pairs} yields exactly the components of
    {old pairs} ∪ {new pairs} (tested against a from-scratch rebuild) at
    the cost of one edge per OLD DOC rather than one per old pair.
    duplicate_keeper_map's star-contraction CC keeps rounds O(log n) even
    when increments chain components together.
    """
    star = old_map.where(F.col("doc_id") != F.col("keeper_id")).select(
        F.col("doc_id").alias("id_a"), F.col("keeper_id").alias("id_b")
    )
    edges = star.unionByName(new_pairs.select("id_a", "id_b"))
    return duplicate_keeper_map(all_ids, id_col=id_col, pairs=edges)


def ngram_jaccard_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 3,
    threshold: float = 0.5,
    block_col: str | None = None,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """All-pairs n-gram Jaccard >= threshold (optionally within a block).

    Relational formulation: shingle ROWS self-joined on (block, shingle)
    count the intersection per pair; |A union B| = |A| + |B| - |A inter B|.
    Pairs sharing zero shingles never materialize (their Jaccard is 0 <
    threshold by definition). Scales as sum over shingles of (docs sharing
    that shingle)^2.

    ``max_doc_freq`` is the 100 TB skew valve: shingles shared by more than
    that many documents (boilerplate headers, license blurbs) are dropped
    BEFORE the self-join — one shingle in 1M docs would otherwise create a
    10^12-row join partition. The intersection then undercounts only by
    ultra-common shingles, which near-identical pairs still share through
    their other (capped-frequency) shingles; denominators stay exact, so
    capped jaccard is a lower bound and the filter can only lose pairs whose
    overlap was MOSTLY boilerplate. Default None = exact (the oracle path).
    """
    extra = [block_col] if block_col else None
    rows = shingle_rows(docs, id_col, text_col, shingle_k, extra_cols=extra)
    block_key = [block_col] if block_col else []
    sizes = rows.groupBy("id").agg(F.count(F.lit(1)).alias("n_sh"))
    if max_doc_freq is not None:
        freq_key = [*block_key, "s"]
        rare = (
            rows.groupBy(*freq_key)
            .agg(F.count(F.lit(1)).alias("_df"))
            .where(F.col("_df") <= max_doc_freq)
            .select(*freq_key)
        )
        rows = rows.join(rare, freq_key)  # drop boilerplate shingles

    a = rows.select(*block_key, F.col("id").alias("id_a"), F.col("s").alias("s"))
    b = rows.select(
        *[F.col(c).alias(f"{c}_b") for c in (block_key or [])],
        F.col("id").alias("id_b"),
        F.col("s").alias("s_b"),
    )
    cond = (F.col("s") == F.col("s_b")) & (F.col("id_a") < F.col("id_b"))
    for c in block_key:
        cond = cond & (F.col(c) == F.col(f"{c}_b"))
    inter = a.join(b, cond).groupBy("id_a", "id_b").agg(F.count(F.lit(1)).alias("inter"))

    na = sizes.select(F.col("id").alias("id_a"), F.col("n_sh").alias("na"))
    nb = sizes.select(F.col("id").alias("id_b"), F.col("n_sh").alias("nb"))
    return (
        inter.join(na, "id_a")
        .join(nb, "id_b")
        .withColumn(
            "jaccard",
            F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter")),
        )
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )


def simhash_signatures(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", bits: int = 32
) -> DataFrame:
    """-> (id, simhash): bitwise-majority simhash over token hashes.

    Relational: token rows -> one groupBy with ``bits`` conditional sums
    (bit i of the signature = 1 iff more than half the token hashes have
    bit i set). Token multiplicity counts, as in classic simhash.
    """
    n_part = max(docs.sparkSession.sparkContext.defaultParallelism * 2, 8)
    toks = (
        docs.repartition(n_part, F.col(id_col))
        .select(F.col(id_col).alias("id"), norm_text_col(text_col).alias("norm"))
        .select("id", F.explode(F.split("norm", " ")).alias("tok"))
        .withColumn("h", F.xxhash64("tok"))
    )
    agg = toks.groupBy("id").agg(
        F.count(F.lit(1)).alias("n"),
        *[
            F.sum(F.shiftright("h", i).bitwiseAND(F.lit(1)).cast("long")).alias(f"b{i}")
            for i in range(bits)
        ],
    )
    sig = F.lit(0).cast("long")
    for i in range(bits):
        sig = sig + (F.col(f"b{i}") * 2 > F.col("n")).cast("long") * F.lit(1 << i).cast("long")
    return agg.select("id", sig.alias("simhash"))


def simhash_duplicates(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", bits: int = 32
) -> DataFrame:
    """Groups of documents with identical simhash signatures."""
    return (
        simhash_signatures(docs, id_col, text_col, bits)
        .groupBy("simhash")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.array_sort(F.collect_list("id")).alias("doc_ids"))
        .where(F.col("n_docs") > 1)
    )


def embedding_cosine_pairs(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_col: str | None = "label",
    threshold: float = 0.95,
) -> DataFrame:
    """Near-dup pairs by embedding cosine within a blocking key.

    Brute force within block; the ANN/LSH scale path is similarity.py.
    """
    from graphrag_litex_spark.operators.similarity import cosine_col

    base = embeddings.select(
        F.col(id_col).alias("id"),
        *( [F.col(block_col).alias("block")] if block_col else [F.lit(1).alias("block")] ),
        F.col(vec_col).alias("vec"),
    )
    a, b = base.alias("a"), base.alias("b")
    return (
        a.join(b, (F.col("a.block") == F.col("b.block")) & (F.col("a.id") < F.col("b.id")))
        .withColumn("cosine", F.round(cosine_col(F.col("a.vec"), F.col("b.vec")), 6))
        .where(F.col("cosine") >= threshold)
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"), "cosine")
    )


def duplicate_keeper_map(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    pairs: DataFrame | None = None,
    jaccard_threshold: float = 0.6,
    cc_driver_threshold: int = DRIVER_THRESHOLD,
    **lsh_kwargs,
) -> DataFrame:
    """Component-level keeper assignment — the artifact a 100 TB dedup
    pipeline actually consumes (the pair list is an intermediate): feed
    near-dup PAIRS (default: ``minhash_lsh_candidates``; any (id_a, id_b)
    frame works) through connected components, pick one keeper per
    component, and emit a full map

        (doc_id, keeper_id, is_keeper)

    for EVERY document (singletons keep themselves), so downstream
    filtering is one broadcast/hash join on doc_id. Keeper = the natural
    minimum of the ORIGINAL id type within the component (CC's internal
    string labels are only used for grouping, so integer ids don't get
    lexicographic-min surprises).

    The result reads connected components' labels (a checkpoint under
    distributed CC): pass it to ``iterutils.release`` once consumed. The
    MinHash candidates it computes itself are freed before it returns; a
    caller's ``pairs`` are left to the caller.
    """
    from graphrag_litex_spark.operators.cc import connected_components
    from graphrag_litex_spark.operators.iterutils import checkpoint_scope

    orig = docs.select(
        F.col(id_col), F.col(id_col).cast("string").alias("_id")
    ).distinct()
    with checkpoint_scope() as scope:
        if pairs is None:
            pairs = minhash_lsh_candidates(
                docs, id_col, text_col, jaccard_threshold=jaccard_threshold, **lsh_kwargs
            )
            scope.own(pairs)
        # Both CC regimes return materialized labels (a driver-local frame
        # or the loop's own checkpoint), so nothing reads `pairs` after.
        labels = connected_components(
            orig.select("_id"),
            pairs.select(
                F.col("id_a").cast("string").alias("src"),
                F.col("id_b").cast("string").alias("dst"),
            ),
            id_col="_id",
            driver_threshold=cc_driver_threshold,
        )
        scope.own(labels)
        lab = labels.join(orig, "_id").select(F.col(id_col), F.col("label"))
        keepers = lab.groupBy("label").agg(F.min(id_col).alias("keeper_id"))
        out = lab.join(keepers, "label").select(
            F.col(id_col).alias("doc_id"),
            "keeper_id",
            (F.col(id_col) == F.col("keeper_id")).alias("is_keeper"),
        )
        return scope.result(out, labels)


def semantic_dedup(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_clusters: int = 8,
    threshold: float = 0.95,
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): cluster embeddings with the deterministic IVF coarse
    quantizer, then prune WITHIN each cluster — a document is dropped when
    it is >= ``threshold`` cosine-similar to a surviving document that sits
    CLOSER IN RANK (rank = ascending cosine-to-centroid, ties by id), so the
    farthest-from-centroid member of each duplicate group is the one kept,
    matching the paper's keep-low-centroid-similarity rule that preserves
    cluster diversity.

    Returns one row per input document::

        (doc_id, cluster_id, cent_cos, max_dup_cos, kept)

    ``max_dup_cos`` is the max cosine to any earlier-ranked cluster-mate
    (null when the document has no earlier mate); ``kept`` is the survival
    verdict downstream curation filters on.

    Plan shape / 100 TB scale: centroid assignment + cosine-to-own-centroid
    is ONE whole-stage-codegen expression (centroid literals, no join, no
    Python — `similarity.ivf_assign` machinery). The in-cluster rank is a
    window over ``cluster_id`` (one hash shuffle); the pairwise check is a
    self-join on ``cluster_id`` that REUSES that partitioning. The only
    quadratic step is within a cluster — exactly the cost SemDeDup's
    clustering exists to bound: scale ``n_clusters`` with the corpus
    (paper uses ~100k clusters for LAION) so expected cluster size stays
    O(corpus/n_clusters) and the pairwise stage stays flat. Hot clusters
    degrade gracefully under AQE skew-join; a pathological giant cluster is
    the signal to raise ``n_clusters`` (same valve as linking's
    giant-block refinement).

    Reference scope note: the reference has no semantic dedup; this is a
    training-data-pipeline extension (build prompt). Deterministic seeds
    mirror `similarity.ivf_centroids` so a pure-Python sequential oracle
    reproduces the exact cluster assignment (oracle_docops.py).
    """
    from graphrag_litex_spark.operators.similarity import (
        _query_lit,
        cosine_col,
        ivf_centroids,
    )
    from pyspark.sql import Window

    cents = (
        centroids
        if centroids is not None
        else ivf_centroids(embeddings, n_clusters, id_col, vec_col)
    )
    if not cents:  # empty corpus
        return embeddings.select(
            F.col(id_col).alias("doc_id"),
            F.lit(0).alias("cluster_id"),
            F.lit(0.0).alias("cent_cos"),
            F.lit(None).cast("double").alias("max_dup_cos"),
            F.lit(True).alias("kept"),
        ).limit(0)

    # argmax-cosine centroid + the winning score in one codegen expression
    # (array_max over struct<score,cid>: best score, ties to larger cid).
    scored = F.array(
        *[
            F.struct(
                cosine_col(F.col(vec_col).cast("array<double>"), _query_lit(c)).alias("s"),
                F.lit(cid).alias("cid"),
            )
            for cid, c in enumerate(cents)
        ]
    )
    best = F.array_max(scored)
    base = embeddings.select(
        F.col(id_col).alias("doc_id"),
        best["cid"].alias("cluster_id"),
        best["s"].alias("_cent_cos"),
        F.col(vec_col).cast("array<double>").alias("_vec"),
    )
    rn = F.row_number().over(
        Window.partitionBy("cluster_id").orderBy(F.col("_cent_cos").asc(), F.col("doc_id").asc())
    )
    ranked = base.withColumn("_rn", rn)
    a = ranked.select(
        F.col("cluster_id"), F.col("_rn").alias("_rn_a"), F.col("_vec").alias("_vec_a")
    )
    b = ranked.select(
        F.col("cluster_id"),
        F.col("doc_id"),
        F.col("_rn").alias("_rn_b"),
        F.col("_vec").alias("_vec_b"),
    )
    dup_max = (
        b.join(a, "cluster_id")
        .where(F.col("_rn_a") < F.col("_rn_b"))
        .groupBy("doc_id")
        .agg(F.max(cosine_col(F.col("_vec_a"), F.col("_vec_b"))).alias("_max_dup"))
    )
    return (
        ranked.join(dup_max, "doc_id", "left")
        .select(
            "doc_id",
            "cluster_id",
            F.round("_cent_cos", 6).alias("cent_cos"),
            F.round("_max_dup", 6).alias("max_dup_cos"),
            (F.col("_max_dup").isNull() | (F.col("_max_dup") < F.lit(threshold))).alias("kept"),
        )
    )
