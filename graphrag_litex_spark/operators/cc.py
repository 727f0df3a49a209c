"""E3: connected components as an iterative hash-join min-label propagation.

Canonicalization must be order-independent (the reference's greedy resolver
is not — /root/reference/extraction/entity_resolver.py:39-54, SURVEY.md Q5):
the transitive closure of the similarity relation is exactly connected
components. No GraphX/GraphFrames: a pure DataFrame loop —

    label(v) := min(label(v), min over neighbors u of label(u))

iterated to fixpoint over the symmetrized edge list. Each round is one
eager checkpoint (a join + aggregation) whose changed-label count rides
the checkpoint job itself (``iterutils.observed_checkpoint``); under AQE
that checkpoint runs as 7 Spark jobs (one per query stage), measured at
``driver_threshold=0`` on local[8] over tests/test_graph_loops.py's graph.
Lineage is truncated per round so plans stay O(1) deep. Diameter of
linking components is tiny (name-variant clusters), so rounds ≈ 2-3; the
loop is still correct for arbitrary graphs and bounded by max_iter.

Semantics for ids appearing only in ``edges`` (not in ``vertices``): they
PROPAGATE labels (two vertices joined through an edge-only intermediate
land in one component, and an edge-only id can be the component minimum)
but emit no output row — output rows are exactly the vertex set. Both the
driver-local and distributed paths implement this identically (asserted in
tests/test_cc.py); the pipeline itself always passes edges ⊆ vertices.
"""

from __future__ import annotations

import warnings

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graphrag_litex_spark.operators.iterutils import (
    DRIVER_THRESHOLD,
    LocalGraph,
    hard_checkpoint,
    local_frame,
    local_graph,
    loop_shuffle_partitions,
    observed_checkpoint,
    release,
    symmetric,
    undirected_simple,
    with_checkpoint_of,
)


def _cc_union_find_df(spark, g: LocalGraph, id_col: str) -> DataFrame:
    """Small-graph physical strategy: union-find over the probe-collected
    graph, result handed back as a local frame.

    Same adaptive stance as Catalyst's broadcast-vs-shuffle join choice: the
    label graph is ALREADY reduced (distinct names, not mentions), so when it
    fits on the driver a union-find beats dozens of tiny shuffle jobs by ~3x
    wall. Produces byte-identical output to the distributed loop (label =
    minimum over the component's full id set, rows = vertices) — asserted in
    tests/test_cc.py."""
    parent: dict = {v: v for v in g.vertices}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for a, b in g.pairs:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            if rb < ra:
                ra, rb = rb, ra
            parent[rb] = ra
    # Component minimum over ALL member ids (vertices AND edge-only ids) —
    # the same label the distributed min-label loop converges to.
    comp_min: dict = {}
    for x in list(parent):
        r = find(x)
        if r not in comp_min or x < comp_min[r]:
            comp_min[r] = x
    return local_frame(
        spark,
        [(v, comp_min[find(v)]) for v in g.vertices],
        [id_col, "label"],
        f"{id_col} string, label string",
    )


def connected_components(
    vertices: DataFrame,
    edges: DataFrame,
    id_col: str = "norm_name",
    src_col: str = "src",
    dst_col: str = "dst",
    max_iter: int = 25,
    driver_threshold: int = DRIVER_THRESHOLD,
    algorithm: str = "minlabel",
) -> DataFrame:
    """-> (id_col, label) where label = component minimum (over vertices and
    edge endpoints); one output row per vertex.

    ``vertices``: one column ``id_col`` (distinct ids).
    ``edges``: (src_col, dst_col) pairs; symmetrized internally.

    Adaptive: state (vertices + similarity edges) below ``driver_threshold``
    rows runs the driver-local union-find (identical output); larger graphs
    run a distributed loop chosen by ``algorithm``:

    * ``"minlabel"`` — neighbor-min propagation, one observed checkpoint
      per round (7 jobs under AQE), rounds = component diameter. The
      right default for entity linking, where components are name-variant
      clusters of diameter 2-3.
    * ``"alternating"`` — large-star/small-star edge rewriting (Kiveris et
      al. 2014, "Connected Components in MapReduce and Beyond"): rounds =
      O(log n) REGARDLESS of diameter, so a 10^6-hop chain (adversarial
      near-dup corpora produce exactly these — each doc similar only to its
      neighbor) finishes in ~20 rounds instead of 10^6. Costs two
      checkpoints per round (~2x the shuffles), so it loses on
      tiny-diameter graphs and wins unboundedly on long ones.

    Both produce byte-identical output (asserted in tests/test_cc.py).
    """
    # Driver-local regime (iterutils.local_graph): raw-row limit probes of
    # the edges, then the vertices, under `2 x raw edges + |vertices| <=
    # driver_threshold`; the symmetrize+dedup then happens locally. Union-
    # find over the undirected simple pairs reaches the same components as
    # the min-label loop over the symmetrized edges (self-loops join
    # nothing), so the labels are identical.
    g = local_graph(edges, src_col, dst_col, driver_threshold, vertices, id_col)
    if g is not None:
        return _cc_union_find_df(vertices.sparkSession, g, id_col)
    if algorithm not in ("minlabel", "alternating"):
        raise ValueError(f"unknown CC algorithm: {algorithm!r}")
    # Self-loops join nothing, so both loops read the undirected simple
    # graph; its size (and the vertex count) ride the checkpoint jobs.
    und = undirected_simple(edges, src_col, dst_col)
    verts, vm = observed_checkpoint(
        vertices.select(F.col(id_col).alias("u")), n=F.count(F.lit(1))
    )
    if algorithm == "alternating":
        return _cc_alternating(verts, und, id_col, max_iter, vm["n"])
    sym, sm = observed_checkpoint(symmetric(und), n=F.count(F.lit(1)))
    n_state = vm["n"] + sm["n"]
    # with-block + finally: a mid-loop Spark exception must not leave the
    # session's shuffle-partition count overridden or leak checkpoint RDDs.
    try:
        with loop_shuffle_partitions(vertices.sparkSession, n_state):
            # Seed labels over vertices ∪ edge endpoints so propagation runs
            # THROUGH edge-only intermediates; output is restricted to the
            # vertex set at the end. One extra distinct at loop start — a
            # no-op shuffle when edges ⊆ vertices (the pipeline's case).
            labels = hard_checkpoint(
                verts.select("u")
                .union(sym.select("u"))
                .distinct()
                .select("u", F.col("u").alias("label"))
            )
            for _ in range(max_iter):
                # Min neighbor label per vertex: for edge (u,v), v receives
                # u's label; merged with the own label via least().
                msg = (
                    sym.join(labels, "u")
                    .groupBy("v")
                    .agg(F.min("label").alias("_msg"))
                    .withColumnRenamed("v", "u")
                )
                new_labels, m = observed_checkpoint(
                    labels.select("u", F.col("label").alias("_old"))
                    .join(msg, "u", "left")
                    .select(
                        "u",
                        F.least(
                            F.col("_old"), F.coalesce(F.col("_msg"), F.col("_old"))
                        ).alias("label"),
                        "_old",
                    ),
                    "u",
                    "label",
                    changed=F.count_if(F.col("label") != F.col("_old")),
                )
                # Release the superseded checkpoint immediately — waiting for
                # Python GC + ContextCleaner lets cached RDDs pile up.
                release(labels)
                labels = new_labels
                if m["changed"] == 0:
                    break
            else:
                # Exhausting max_iter without a zero-change round means the
                # returned labels are NOT guaranteed to be component minima
                # (propagation stopped mid-graph). Silent wrong labels at
                # scale are undebuggable — make the exit loud.
                warnings.warn(
                    f"connected_components(minlabel) hit max_iter={max_iter} "
                    "before convergence; labels may not be component minima. "
                    "Raise max_iter or use algorithm='alternating' "
                    "(O(log n) rounds on any diameter).",
                    RuntimeWarning,
                    stacklevel=2,
                )
    finally:
        release(sym)
    # The result reads both checkpoints (lineage is truncated, so an early
    # release would make the semi-join unreadable): release(result) frees both.
    return with_checkpoint_of(
        labels.join(verts, "u", "left_semi").select(F.col("u").alias(id_col), "label"),
        labels,
        verts,
    )


def _stars_checkpoint(e: DataFrame) -> tuple[DataFrame, tuple]:
    """Checkpoint a canonical edge set with its (count, xxhash64 sum) — an
    order-independent edge-set checksum observed by the checkpoint job
    itself, so the convergence check costs no job of its own."""
    ck, m = observed_checkpoint(
        e,
        n=F.count(F.lit(1)),
        # decimal sum: ANSI mode (Spark 4 default) would raise on bigint
        # overflow, and hash sums overflow by design.
        h=F.sum(F.xxhash64("a", "b").cast("decimal(20,0)")),
    )
    return ck, (m["n"], m["h"])


def _large_star(e: DataFrame) -> DataFrame:
    """Connect every neighbor LARGER than u to min(N(u) ∪ {u})."""
    sym = symmetric(e)
    mins = (
        sym.groupBy("u")
        .agg(F.min("v").alias("_mn"))
        .select("u", F.least("_mn", "u").alias("m"))
    )
    return undirected_simple(
        sym.join(mins, "u")
        .where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("a"), F.col("m").alias("b")),
        "a",
        "b",
    )


def _small_star(e: DataFrame) -> DataFrame:
    """Orient edges large→small; connect each small endpoint (and the hub)
    to min(N(hub) ∪ {hub})."""
    dird = e.select(F.col("b").alias("u"), F.col("a").alias("v"))  # u > v
    mins = (
        dird.groupBy("u")
        .agg(F.min("v").alias("_mn"))
        .select("u", F.least("_mn", "u").alias("m"))
    )
    linked = dird.join(mins, "u").select(F.col("v").alias("a"), F.col("m").alias("b"))
    hubs = mins.select(F.col("u").alias("a"), F.col("m").alias("b"))
    return undirected_simple(linked.union(hubs), "a", "b")


def _cc_alternating(
    verts: DataFrame, und: DataFrame, id_col: str, max_iter: int, n_verts: int
) -> DataFrame:
    """Large-star/small-star alternation (Kiveris et al. 2014, §3): each
    round rewrites the edge set toward a forest of depth-1 stars rooted at
    the component minimum; O(log n) rounds on ANY topology vs. the
    min-label loop's O(diameter). Per round: two groupBy+join checkpoints,
    the small-star one observing the edge-set checksum (11 jobs per round
    under AQE), lineage truncated per star.

    ``verts`` arrives checkpointed from ``connected_components``, ``und``
    is the lazy undirected simple graph. Output contract is identical to
    the min-label loop: rows = vertex set, label = component min over
    vertices AND edge-only endpoints.
    """
    spark = verts.sparkSession
    e, prev = _stars_checkpoint(und)
    try:
        with loop_shuffle_partitions(spark, n_verts + 2 * prev[0]):
            rounds = 0
            for _ in range(max_iter):
                if prev[0] == 0:
                    break  # no edges left: every vertex is its own star
                e1 = hard_checkpoint(_large_star(e))
                e2, cur = _stars_checkpoint(_small_star(e1))
                release(e1)
                rounds += 1
                release(e)
                e = e2
                if cur == prev:
                    break
                prev = cur
            else:
                # max_iter exhausted with the checksum still moving: the
                # star contraction did not reach fixpoint, so the groupBy-
                # min below collapses a NON-star residue — deterministic
                # but possibly non-minimum labels. The "byte-identical to
                # minlabel" guarantee is convergence-conditional; warn so
                # an under-iterated run at scale is detectable instead of
                # silently mislabeled. (The checksum is also probabilistic
                # — a 64-bit-sum collision would end a round early — but at
                # count+sum granularity that is a ~2^-64 event per round.)
                warnings.warn(
                    f"connected_components(alternating) hit max_iter="
                    f"{max_iter} before the edge-set checksum converged; "
                    "labels may not be component minima. Raise max_iter.",
                    RuntimeWarning,
                    stacklevel=2,
                )
            # Converged edge set is (root=a, child=b) stars; roots label
            # themselves. groupBy-min collapses the (rare) pre-max_iter
            # non-star residue to a deterministic label anyway.
            lbl = (
                e.select(F.col("b").alias("u"), F.col("a").alias("label"))
                .union(e.select(F.col("a").alias("u"), F.col("a").alias("label")))
                .groupBy("u")
                .agg(F.min("label").alias("label"))
            )
            out = hard_checkpoint(
                verts.join(lbl, "u", "left").select(
                    F.col("u").alias(id_col),
                    F.coalesce("label", "u").alias("label"),
                )
            )
            out._graft_cc_rounds = rounds  # type: ignore[attr-defined]
            release(e)
    finally:
        release(verts)
    return out
