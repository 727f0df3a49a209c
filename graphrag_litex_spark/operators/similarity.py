"""Similarity search over embedding columns (G1/D7/H4 + ANN scale path).

The reference ranks summaries by MiniLM cosine against a single question
vector (/root/reference/utils/embedding_utils.py:17-40, top-k at :26-40).
Here:

  * ``cosine_col``      — cosine of two array<float> columns as a pure
                          column expression (zip_with + aggregate; codegen'd)
  * ``brute_force_topk`` — exact top-k by cosine vs one query vector
                          (broadcast scalar -> TakeOrderedAndProject)
  * ``lsh_bucketed_topk`` — random-hyperplane LSH variant: deterministic
                          signed projections -> bucket join -> brute force
                          within matching buckets only; the 100 TB path
                          (probes the query's bucket + optional neighbors)
  * ``knn_join``        — for each left row, its k nearest right rows
                          (window over a blocked cross score)

Everything is JVM-side; the only Python is building the literal query
vector on the driver.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def dot_col(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0).cast("double"),
        lambda acc, v: acc + v,
    )


def norm_col(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0).cast("double"), lambda acc, v: acc + v * v))


def cosine_col(a: Column, b: Column) -> Column:
    return cosine_from_norms(a, b, norm_col(a), norm_col(b))


def cosine_from_norms(a: Column, b: Column, a_norm: Column, b_norm: Column) -> Column:
    """:func:`cosine_col` with the two norms given as columns, so a norm
    shared by many pairs is computed once, not once per pair."""
    denom = a_norm * b_norm
    return F.when(denom == 0, F.lit(0.0)).otherwise(dot_col(a, b) / denom)


def _query_lit(query_vec: list[float]) -> Column:
    return F.array(*[F.lit(float(v)) for v in query_vec])


def brute_force_topk(
    embeddings: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k rows by cosine vs the query vector.

    orderBy+limit compiles to TakeOrderedAndProject: each partition keeps a
    k-heap, the driver merges — no global sort shuffle.
    """
    from graphrag_litex_spark.operators.iterutils import scale_out

    q = _query_lit(query_vec)
    return (
        scale_out(embeddings, id_col).select(
            F.col(id_col),
            F.round(cosine_col(F.col(vec_col).cast("array<double>"), q), 6).alias("cosine"),
        )
        .orderBy(F.col("cosine").desc(), F.col(id_col).asc())
        .limit(k)
    )


def hyperplane_signature(vec_col: Column, dim: int, planes: int = 16) -> Column:
    """Deterministic random-hyperplane LSH signature (bit-packed long).

    Plane p's normal has component j = parity of xxhash64(p * 10007 + j)
    mapped to {-1, +1}; the signature bit is the sign of the projection.
    The sign table is computed ON THE DRIVER with the pure-Python XXH64
    (functions/xxh64.py, bit-identical to ``F.xxhash64`` — unit-tested) and
    embedded as ``planes`` literal double arrays: same values as the former
    per-cell ``F.xxhash64(lit(...))`` expressions, but a dim-fold smaller
    expression tree. No stored model, no randomness.
    """
    from graphrag_litex_spark.functions.xxh64 import xxhash64_int

    def proj(p: int) -> Column:
        signs = F.array(
            *[
                F.lit(1.0 if xxhash64_int(p * 10_007 + j) % 2 == 0 else -1.0)
                for j in range(dim)
            ]
        )
        return dot_col(vec_col.cast("array<double>"), signs)

    sig = F.lit(0).cast("long")
    for p in range(planes):
        sig = sig + (proj(p) > 0).cast("long") * (2**p)
    return sig


def lsh_bucketed_topk(
    embeddings: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    planes: int = 8,
    probe_bits: int = 1,
) -> DataFrame:
    """Approximate top-k: score only rows in the query's LSH bucket plus
    every bucket within Hamming distance <= ``probe_bits`` of it (the same
    multi-probe recall recovery as :func:`knn_join_lsh` — near neighbors
    that land one plane away are still found, so recall no longer cliffs
    when the query's own bucket is sparse).

    At scale the bucket filter prunes ~(1 - (1+planes)/2^planes) of the
    corpus before any scoring (at probe_bits=1); recall is tunable via
    ``planes`` (fewer planes = bigger buckets = higher recall) and
    ``probe_bits`` (0 = exact-bucket only, the previous behavior).
    """
    from graphrag_litex_spark.operators.iterutils import scale_out

    dim = len(query_vec)
    sigged = scale_out(embeddings, id_col).withColumn(
        "_sig", hyperplane_signature(F.col(vec_col), dim, planes)
    )
    # Query signature computed the same way on a literal one-row frame.
    spark = embeddings.sparkSession
    qdf = spark.range(1).select(_query_lit(query_vec).alias("v"))
    qsig = qdf.select(hyperplane_signature(F.col("v"), dim, planes).alias("s")).collect()[0]["s"]
    # Full Hamming ball of radius probe_bits (any radius, not a hard-coded
    # 1/2): C(planes, d) signatures per distance d.
    from itertools import combinations

    probe_sigs = {qsig}
    for d in range(1, min(probe_bits, planes) + 1):
        for bits in combinations(range(planes), d):
            flip = 0
            for b in bits:
                flip |= 1 << b
            probe_sigs.add(qsig ^ flip)
    q = _query_lit(query_vec)
    return (
        # IN-list of sum_d C(planes, d) literals (d <= probe_bits; 2^planes
        # at most): a pushdown-able predicate on the signature column, no
        # join or explode needed for the single-query path.
        sigged.where(F.col("_sig").isin(*[int(s) for s in probe_sigs]))
        .select(
            F.col(id_col),
            F.round(cosine_col(F.col(vec_col).cast("array<double>"), q), 6).alias("cosine"),
        )
        .orderBy(F.col("cosine").desc(), F.col(id_col).asc())
        .limit(k)
    )


def ivf_centroids(
    embeddings: DataFrame,
    n_centroids: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    lloyd_iters: int = 0,
) -> list[list[float]]:
    """Deterministic IVF coarse quantizer (centroid table, driver-side).

    Seeds are the ``n_centroids`` rows with the smallest
    ``(xxhash64(id), id)`` — a deterministic pseudo-random sample computed
    as TakeOrderedAndProject (k-heap per partition, no global sort, no
    ``rand()``), reproducible by any independent implementation via the
    pure-Python XXH64. Optional Lloyd refinement rounds run as DataFrame
    aggregations: assign every row to its argmax-cosine centroid (codegen'd
    expression, :func:`ivf_assign`), then recompute each centroid as the
    element-wise mean via ``posexplode`` + ``groupBy().avg()`` — one shuffle
    of (n_centroids x dim) groups per round, corpus never collected.

    The returned table is the index's ONLY driver-side state:
    n_centroids x dim doubles (even 2^16 centroids x 1024 dims is ~0.5 GB of
    literals — at that scale persist it as a table and broadcast-join
    instead; for the coarse quantizers this engine targets, <= 2^10
    centroids, literals are cheaper and stay in whole-stage codegen).
    """
    seeds = (
        embeddings.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"))
        .orderBy(F.xxhash64(F.col("_id")).asc(), F.col("_id").asc())
        .limit(n_centroids)
        .collect()
    )
    cents = [[float(x) for x in r["_v"]] for r in seeds]
    for _ in range(lloyd_iters):
        assigned = ivf_assign(embeddings, cents, vec_col=vec_col)
        means = (
            assigned.select(
                "_cid", F.posexplode(F.col(vec_col).cast("array<double>")).alias("pos", "x")
            )
            .groupBy("_cid", "pos")
            .agg(F.avg("x").alias("m"))
            .collect()
        )
        by_cid: dict[int, dict[int, float]] = {}
        for r in means:
            by_cid.setdefault(r["_cid"], {})[r["pos"]] = r["m"]
        # Empty clusters keep their previous centroid (standard Lloyd).
        cents = [
            [by_cid[c][j] for j in range(len(cents[c]))] if c in by_cid else cents[c]
            for c in range(len(cents))
        ]
    return cents


def ivf_assign(
    embeddings: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "embedding",
    out_col: str = "_cid",
    score_col: str | None = None,
) -> DataFrame:
    """Adds ``out_col`` = argmax-cosine centroid id, as ONE JVM expression.

    ``array_max`` over ``array<struct<score, cid>>`` picks the
    lexicographic max — best score, ties to the larger cid — with the
    centroid vectors embedded as literal arrays, so assignment runs inside
    whole-stage codegen with zero Python and no join. At 100 TB this is the
    index build: write the assigned corpus partitioned by ``out_col`` once,
    and every probe after that is partition-pruned I/O.
    """
    from graphrag_litex_spark.operators.iterutils import scale_out

    if not centroids:
        raise ValueError("ivf_assign needs at least one centroid")
    embeddings = scale_out(embeddings)
    scored = F.array(
        *[
            F.struct(
                cosine_col(F.col(vec_col).cast("array<double>"), _query_lit(c)).alias("s"),
                F.lit(cid).alias("cid"),
            )
            for cid, c in enumerate(centroids)
        ]
    )
    best = F.array_max(scored)
    out = embeddings.withColumn(out_col, best["cid"])
    # optional winning cosine (``score_col``) — same array_max, codegen CSE
    return out.withColumn(score_col, best["s"]) if score_col else out


def ivf_probes(cents: list[list[float]], query_vec: list[float], nprobe: int) -> list[int]:
    """The ``nprobe`` inverted lists an IVF query scans: centroid ids by
    cosine to the query, descending, ties by id. Pure driver arithmetic
    over the tiny centroid table, in a fixed summation order; a zero-norm
    side scores 0."""
    q = [float(v) for v in query_vec]
    nq = 0.0
    for x in q:
        nq = nq + x * x

    def _cos(a: list[float]) -> float:
        na = 0.0
        for x in a:
            na = na + x * x
        den = na**0.5 * nq**0.5
        if den == 0:
            return 0.0
        acc = 0.0
        for x, y in zip(a, q):
            acc = acc + x * y
        return acc / den

    return sorted(range(len(cents)), key=lambda c: (-_cos(cents[c]), c))[:nprobe]


def ivf_topk(
    embeddings: DataFrame,
    query_vec: list[float],
    k: int = 10,
    n_centroids: int = 8,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """IVF approximate top-k: score only the ``nprobe`` closest inverted
    lists (the second ANN scale path next to :func:`lsh_bucketed_topk`).

    Probe selection is pure driver arithmetic over the tiny centroid table;
    the corpus-side work is one codegen'd assignment + filter + exact top-k
    within the probed lists (~ nprobe/n_centroids of the data). With
    ``nprobe == n_centroids`` this is exactly :func:`brute_force_topk`
    (asserted in tests). Pass a precomputed/Lloyd-refined ``centroids``
    table to skip the seed scan — the materialized-index path.
    """
    cents = centroids if centroids is not None else ivf_centroids(
        embeddings, n_centroids, id_col, vec_col
    )
    if not cents:  # empty corpus: no lists to probe, empty top-k
        return embeddings.select(
            F.col(id_col), F.lit(0.0).cast("double").alias("cosine")
        ).limit(0)
    probed = ivf_assign(embeddings, cents, vec_col=vec_col).where(
        F.col("_cid").isin(ivf_probes(cents, query_vec, nprobe))
    )
    return brute_force_topk(probed, query_vec, k, id_col, vec_col)


def knn_join(
    left: DataFrame,
    right: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_col: str | None = None,
) -> DataFrame:
    """For each left row: its k nearest right rows by cosine (EXACT).

    With ``block_col``: equi-join within blocks (quadratic per block). Without
    one: an explicit ``crossJoin`` — Spark's cartesian operator parallelizes
    over partition PAIRS, unlike the round-1 ``lit(1)`` equi-join whose single
    hash key funneled both sides through one reducer. Still O(|L|x|R|) work by
    definition of exact kNN — at 100 TB use :func:`knn_join_lsh` (bucketed,
    multi-probe) instead.
    """
    lb = left.select(
        F.col(id_col).alias("left_id"),
        F.col(vec_col).alias("lv"),
        *([F.col(block_col).alias("block")] if block_col else []),
    )
    rb = right.select(
        F.col(id_col).alias("right_id"),
        F.col(vec_col).alias("rv"),
        *([F.col(block_col).alias("block")] if block_col else []),
    )
    joined = lb.join(rb, "block") if block_col else lb.crossJoin(rb)
    scored = joined.where(F.col("left_id") != F.col("right_id")).withColumn(
        "cosine",
        F.round(cosine_col(F.col("lv").cast("array<double>"), F.col("rv").cast("array<double>")), 6),
    )
    w = Window.partitionBy("left_id").orderBy(F.col("cosine").desc(), F.col("right_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("left_id", "right_id", "cosine", "rank")
    )


def knn_join_lsh(
    left: DataFrame,
    right: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
    planes: int = 8,
    probe_bits: int = 1,
) -> DataFrame:
    """Approximate kNN join: candidates restricted to LSH-bucket matches.

    Both sides get a random-hyperplane signature; each LEFT row probes its
    own bucket plus every bucket within Hamming distance <= ``probe_bits``
    (single-bit flips — the standard multi-probe recall recovery, so near
    neighbors that land one plane away are still found). The join is a hash
    equi-join on the bucket id: at 100 TB each bucket holds ~|R| / 2^planes
    rows, no single-reducer funnel, no cartesian. Recall is tunable via
    ``planes`` (fewer = bigger buckets = higher recall) and ``probe_bits``;
    measured vs exact :func:`knn_join` in tests/test_toolbox.py.
    """
    if dim is None:
        row = right.select(vec_col).first()
        if row is None:  # empty right side: no neighbors to find
            return left.select(
                F.col(id_col).alias("left_id"),
                F.col(id_col).alias("right_id"),
                F.lit(0.0).cast("double").alias("cosine"),
                F.lit(0).alias("rank"),
            ).limit(0)
        dim = len(row[0])
    sig = hyperplane_signature(F.col(vec_col), dim, planes)
    rb = right.select(
        F.col(id_col).alias("right_id"), F.col(vec_col).alias("rv"), sig.alias("bucket")
    )
    probes = [F.col("_sig")]
    if probe_bits >= 1:
        probes += [F.col("_sig").bitwiseXOR(F.lit(1 << p)) for p in range(planes)]
    if probe_bits >= 2:
        probes += [
            F.col("_sig").bitwiseXOR(F.lit((1 << p) | (1 << q)))
            for p in range(planes)
            for q in range(p + 1, planes)
        ]
    lb = (
        left.select(F.col(id_col).alias("left_id"), F.col(vec_col).alias("lv"), sig.alias("_sig"))
        .withColumn("bucket", F.explode(F.array(*probes)))
        .drop("_sig")
    )
    cand = (
        lb.join(rb, "bucket")
        .where(F.col("left_id") != F.col("right_id"))
        .select("left_id", "lv", "right_id", "rv")
        .distinct()  # a pair can match through several probes
    )
    scored = cand.withColumn(
        "cosine",
        F.round(cosine_col(F.col("lv").cast("array<double>"), F.col("rv").cast("array<double>")), 6),
    )
    w = Window.partitionBy("left_id").orderBy(F.col("cosine").desc(), F.col("right_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("left_id", "right_id", "cosine", "rank")
    )


# ---- product quantization (IVF-PQ, the 100 TB vector-index standard) -----
#
# Full-precision embeddings at web scale dwarf the text that produced them
# (1B x 1024-dim float32 = 4 TB); every serious ANN deployment (FAISS
# IVF-PQ, SCaNN, Milvus) stores PQ CODES instead: the vector is split into
# ``m`` subvectors, each quantized to one of ``ksub`` per-subspace
# centroids, so a vector becomes m small ints (m=8, ksub=16 -> 8 nibbles =
# 64x compression of a 64-dim float64 vector). Queries score codes with
# ASYMMETRIC DISTANCE (ADC): the query stays full-precision, a per-subspace
# lookup table of query->centroid distances is built ONCE on the driver
# (m x ksub doubles), and each candidate's approximate L2 distance is m
# table lookups — pure codegen, no floating-point vector math per row.
#
# Determinism stance (same as ivf_centroids): codebook seeds are the ksub
# rows with the smallest (xxhash64(id), id) — the SAME seed rows provide
# all m subspaces — so an independent sequential implementation reproduces
# codebooks, codes, and ADC scores bit-for-bit (oracle_docops.py).


def _subspaces(dim: int, m: int) -> list[tuple[int, int]]:
    """(1-based slice start, length) of each of the m contiguous subspaces."""
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    d = dim // m
    return [(j * d + 1, d) for j in range(m)]


def pq_codebooks(
    embeddings: DataFrame,
    m: int = 8,
    ksub: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    lloyd_iters: int = 0,
) -> list[list[list[float]]]:
    """Train the PQ codebooks -> ``codebooks[j][c]`` = centroid ``c`` of
    subspace ``j``. Seeds are deterministic (one TakeOrderedAndProject
    collect of ksub rows); optional Lloyd rounds refine ALL subspaces in a
    single DataFrame pass each: encode (codegen) -> posexplode the vector
    -> groupBy (subspace, assigned centroid, within-subspace position) avg
    — one shuffle of at most m*ksub*dsub groups per round, corpus never
    collected. Driver state is m*ksub*dsub doubles (KBs)."""
    seeds = (
        embeddings.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"))
        .orderBy(F.xxhash64(F.col("_id")).asc(), F.col("_id").asc())
        .limit(ksub)
        .collect()
    )
    if not seeds:
        return []
    dim = len(seeds[0]["_v"])
    d = dim // m
    books = [
        [[float(x) for x in r["_v"][j * d : (j + 1) * d]] for r in seeds]
        for j in range(m)
    ]
    for _ in range(lloyd_iters):
        coded = pq_encode(embeddings, books, id_col=id_col, vec_col=vec_col)
        joined = coded.join(
            embeddings.select(F.col(id_col), F.col(vec_col)), id_col
        )
        means = (
            joined.select(
                F.col("code"),
                F.posexplode(F.col(vec_col).cast("array<double>")).alias("pos", "x"),
            )
            .select(
                F.floor(F.col("pos") / d).cast("int").alias("sub"),
                (F.col("pos") % d).alias("within"),
                F.element_at("code", (F.floor(F.col("pos") / d) + 1).cast("int")).alias("cid"),
                "x",
            )
            .groupBy("sub", "cid", "within")
            .agg(F.avg("x").alias("mval"))
            .collect()
        )
        got: dict[tuple[int, int], dict[int, float]] = {}
        for r in means:
            got.setdefault((r["sub"], r["cid"]), {})[r["within"]] = r["mval"]
        books = [
            [
                [got[(j, c)][w] for w in range(d)] if (j, c) in got else books[j][c]
                for c in range(ksub)
            ]
            for j in range(m)
        ]
    return books


def pq_encode(
    embeddings: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    keep_cols: list[str] | None = None,
    unroll_term_limit: int = 512,
) -> DataFrame:
    """-> (id, code array<int>): per subspace, the argmin-L2 centroid
    (ties to the larger centroid id, array_max struct compare). One
    projection — no join, no Python; at 100 TB this runs once at ingest
    and the codes table (m small ints per vector) replaces the corpus.
    ``unroll_term_limit`` picks the expression strategy (see below)."""
    from graphrag_litex_spark.operators.iterutils import scale_out

    embeddings = scale_out(embeddings, id_col)
    m = len(codebooks)
    ksub = max(len(b) for b in codebooks)  # max: ragged books must not unroll-undercount
    d = len(codebooks[0][0])
    dim = m * d
    # Two expression strategies with IDENTICAL semantics (same left-assoc
    # double fold, same array_max struct tie-break to the larger cid):
    #
    #   * UNROLLED (small books): every squared-diff term inlined as plain
    #     arithmetic — parses fast, whole-stage codegen end to end.
    #   * FOLDED (large books): the codebook as ONE nested-array literal
    #     (ConstantFolding collapses the all-literal CreateArray tree into
    #     a single Literal before codegen) scanned by higher-order
    #     functions. The HOF is a CodegenFallback EXPRESSION — the stage
    #     itself still whole-stage-codegens around one eval call per row.
    #
    # The switch exists because the unrolled form stops compiling past
    # ~64 KB of generated bytecode per method: at m=8/ksub=16/d=8 (1024
    # terms) Janino dies with "Code grows beyond 64 KB" and Spark silently
    # re-runs the WHOLE stage interpreted — strictly slower than the HOF
    # form — and the realistic FAISS shape (ksub=256) is 16x past the
    # cliff. The default 512-term threshold keeps the unrolled path well
    # inside the limit. Both paths produce bit-identical codes
    # (differentially tested).
    if m * ksub * d <= unroll_term_limit:
        # Generated as ONE SQL string, parsed JVM-side in a single call:
        # the Column API costs a py4j round-trip per operator node (~8s of
        # plan construction at m=8, ksub=16). Double literals use the D
        # suffix (repr round-trips exactly; bare decimals parse DECIMAL).
        def _score(start: int, cent: list[float], cid: int) -> str:
            terms = "".join(
                f" + (element_at(_v, {start + i}) - {y!r}D)"
                f" * (element_at(_v, {start + i}) - {y!r}D)"
                for i, y in enumerate(cent)
            )
            return f"named_struct('s', -(0.0D{terms}), 'cid', {cid})"

        subs = [
            "array_max(array("
            + ",".join(_score(start, cent, c) for c, cent in enumerate(codebooks[j]))
            + ")).cid"
            for j, (start, _length) in enumerate(_subspaces(dim, m))
        ]
        code = F.expr("array(" + ",".join(subs) + ")")
    else:
        book_lit = ",".join(
            "array(" + ",".join(
                "array(" + ",".join(f"{y!r}D" for y in cent) + ")"
                for cent in codebooks[j]
            ) + ")"
            for j in range(m)
        )
        # aggregate's (acc + term) fold over ascending i == the unrolled
        # left-assoc sum == the pure-Python golden, bit for bit.
        # centroid count read per subspace via size() (not the literal
        # ksub), so ragged codebooks encode identically to the unrolled
        # path instead of silently scoring a truncated centroid set.
        code = F.expr(
            f"""
            transform(sequence(0, {m - 1}), j ->
                array_max(transform(sequence(0, size(element_at(_books, j + 1)) - 1), c ->
                    named_struct(
                        's', -aggregate(sequence(1, {d}), cast(0.0 as double),
                            (acc, i) -> acc +
                                (element_at(_v, j * {d} + i)
                                 - element_at(element_at(element_at(_books, j + 1), c + 1), i))
                              * (element_at(_v, j * {d} + i)
                                 - element_at(element_at(element_at(_books, j + 1), c + 1), i))),
                        'cid', c))).cid)
            """
        )
        embeddings = embeddings.withColumn(
            "_books", F.expr(f"array({book_lit})")
        )
    out = embeddings.withColumn(
        "_v", F.col(vec_col).cast("array<double>")
    ).select(F.col(id_col), *(keep_cols or []), code.alias("code"))
    return out


def pq_adc_topk(
    codes: DataFrame,
    query_vec: list[float],
    codebooks: list[list[list[float]]],
    k: int = 10,
    id_col: str = "vec_id",
) -> DataFrame:
    """Asymmetric-distance top-k over a PQ codes table -> (id, adist):
    the k rows with the smallest approximate L2 distance to the
    full-precision query. The m x ksub distance table is driver-side
    arithmetic; scoring is m ``element_at`` lookups summed left-to-right
    (codegen), and orderBy+limit compiles to TakeOrderedAndProject — no
    global sort, no vector math, no Python on the corpus."""
    m = len(codebooks)
    q = [float(x) for x in query_vec]
    d = len(codebooks[0][0])

    def _l2sq(a: list[float], b: list[float]) -> float:
        acc = 0.0
        for x, y in zip(a, b):
            acc = acc + (x - y) * (x - y)
        return acc

    table = [
        [_l2sq(q[j * d : (j + 1) * d], cent) for cent in codebooks[j]]
        for j in range(m)
    ]
    adist = F.lit(0.0).cast("double")
    for j in range(m):
        adist = adist + F.element_at(
            F.array(*[F.lit(x) for x in table[j]]),
            F.element_at("code", j + 1) + F.lit(1),
        )
    return (
        codes.select(F.col(id_col), F.round(adist, 6).alias("adist"))
        .orderBy(F.col("adist").asc(), F.col(id_col).asc())
        .limit(k)
    )


def ivf_pq_topk(
    embeddings: DataFrame,
    query_vec: list[float],
    k: int = 10,
    n_centroids: int = 8,
    nprobe: int = 2,
    m: int = 8,
    ksub: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The composed FAISS-style index: IVF coarse probe (partition pruning
    at scale — the assigned corpus is written partitioned by ``_cid``) +
    PQ/ADC scoring within the probed lists. Both stages reuse the
    deterministic machinery above; at 100 TB the scan touches
    ~nprobe/n_centroids of a codes table that is itself ~64x smaller than
    the raw embeddings."""
    cents = ivf_centroids(embeddings, n_centroids, id_col, vec_col)
    books = pq_codebooks(embeddings, m=m, ksub=ksub, id_col=id_col, vec_col=vec_col)
    if not cents or not books:
        return embeddings.select(
            F.col(id_col), F.lit(0.0).cast("double").alias("adist")
        ).limit(0)
    q = [float(x) for x in query_vec]
    assigned = ivf_assign(embeddings, cents, vec_col=vec_col).where(
        F.col("_cid").isin(ivf_probes(cents, q, nprobe))
    )
    codes = pq_encode(assigned, books, id_col=id_col, vec_col=vec_col)
    return pq_adc_topk(codes, q, books, k=k, id_col=id_col)


def sq8_quantize(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Symmetric per-vector int8 scalar quantization ->
    (``id_col``, scale, q): ``scale`` = max|x| / 127 (double), ``q[i]`` =
    round(x[i] / scale) as int in [-127, 127] — the standard SQ8 embedding
    compression (FAISS ``ScalarQuantizer`` family): 4x smaller at rest than
    float32, reconstruction error <= scale/2 per coordinate, and cosine is
    scale-invariant so ranking degrades only by the rounding. At 100 TB of
    embeddings this is the difference between 25 TB and 100 TB of vector
    I/O per index build/scan.

    One narrow projection, zero shuffles, whole-stage codegen (transform/
    array_max lambdas — no UDF). HALF_UP rounding matches ANSI round()
    away-from-zero on every engine tested, so the codes have an EXACT SQL
    oracle (contract `embedding_sq8`), unlike the float-summation PCA path.
    All-zero vectors quantize to zeros at scale 0 (not NaN); null vectors
    propagate null."""
    v = F.col(vec_col).cast("array<double>")
    scale = F.array_max(F.transform(v, lambda x: F.abs(x))) / F.lit(127.0)
    q = F.when(
        scale > 0,
        F.transform(v, lambda x: F.round(x / scale).cast("int")),
    ).otherwise(F.transform(v, lambda x: F.lit(0)))
    return embeddings.select(
        F.col(id_col),
        scale.alias("scale"),
        q.alias("q"),
    )


def sq8_dequantize(
    codes: DataFrame,
    scale_col: str = "scale",
    q_col: str = "q",
    out_col: str = "embedding",
) -> DataFrame:
    """Inverse of :func:`sq8_quantize`: ``out_col[i] = q[i] * scale``
    (array<double>) — feed the reconstruction anywhere the toolbox takes a
    vector column (cosine/topk/kNN); same codegen-only stance."""
    return codes.withColumn(
        out_col,
        F.transform(F.col(q_col), lambda x: x.cast("double") * F.col(scale_col)),
    )
