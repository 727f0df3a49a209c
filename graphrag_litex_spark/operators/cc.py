"""E3: connected components as iterative hash-join star contraction.

Canonicalization must be order-independent (the reference's greedy resolver
is not — /root/reference/extraction/entity_resolver.py:39-54, SURVEY.md Q5):
the transitive closure of the similarity relation is exactly connected
components. No GraphX/GraphFrames: a pure DataFrame loop over the
undirected simple edge set, the large-star/small-star alternation of
Kiveris et al. 2014 ("Connected Components in MapReduce and Beyond"):

    large-star: link every neighbor larger than u to min(N(u) ∪ {u})
    small-star: link every neighbor smaller than u, and u, to that min

Each round rewrites the edge set toward a forest of depth-1 stars rooted at
the component minimum in O(log n) rounds on ANY topology — a long name
chain or a chained near-dup corpus (doc_i ~ doc_{i+1}) needs no round per
hop. A round is two groupBy+join checkpoints; the small-star one observes
the edge set's (count, xxhash64 sum) on its checkpoint job
(``iterutils.checkpoint_scope.observed``), and the loop stops when that
checksum repeats. Lineage is truncated per star, so plans stay O(1) deep.

Below ``driver_threshold`` the graph is collected and a driver-local
union-find labels it (identical output), so at bench scale the linking
stage runs no loop at all.

Semantics for ids appearing only in ``edges`` (not in ``vertices``): they
PROPAGATE labels (two vertices joined through an edge-only intermediate
land in one component, and an edge-only id can be the component minimum)
but emit no output row — output rows are exactly the non-NULL vertex set.
Both paths implement this identically (asserted in tests/test_cc.py); the
pipeline itself always passes edges ⊆ vertices.
"""

from __future__ import annotations

import warnings

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graphrag_litex_spark.operators.iterutils import (
    DRIVER_THRESHOLD,
    LocalGraph,
    checkpoint_scope,
    local_frame,
    local_graph,
    loop_shuffle_partitions,
    symmetric,
    undirected_simple,
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
    # the root the distributed star contraction converges to.
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
) -> DataFrame:
    """-> (id_col, label) where label = component minimum (over vertices and
    edge endpoints); one output row per non-NULL vertex.

    ``vertices``: one column ``id_col`` (distinct ids).
    ``edges``: (src_col, dst_col) pairs; symmetrized internally, and an
    edge with a NULL endpoint joins nothing.

    Adaptive: state (vertices + edges) below ``driver_threshold`` rows runs
    the driver-local union-find; larger graphs run the large-star/small-star
    loop (module docstring), at most ``max_iter`` rounds (11 jobs per round
    under AQE). Both produce byte-identical output (asserted in
    tests/test_cc.py). The distributed result is one checkpoint, freed by
    ``iterutils.release``; its ``_graft_cc_rounds`` is the loop's round count.
    """
    # Driver-local regime (iterutils.local_graph): raw-row limit probes of
    # the edges, then the vertices, under `2 x raw edges + |vertices| <=
    # driver_threshold`; the symmetrize+dedup then happens locally.
    g = local_graph(edges, src_col, dst_col, driver_threshold, vertices, id_col)
    if g is not None:
        return _cc_union_find_df(vertices.sparkSession, g, id_col)
    # Self-loops join nothing, so the loop reads the undirected simple
    # graph; its size (and the vertex count) ride the checkpoint jobs.
    with checkpoint_scope() as scope:
        verts, vm = scope.observed(
            vertices.select(F.col(id_col).alias("u")).where(F.col("u").isNotNull()),
            n=F.count(F.lit(1)),
        )
        e, prev = _stars_checkpoint(scope, undirected_simple(edges, src_col, dst_col))
        with loop_shuffle_partitions(vertices.sparkSession, vm["n"] + 2 * prev[0]):
            rounds = 0
            for _ in range(max_iter):
                if prev[0] == 0:
                    break  # no edges left: every vertex is its own star
                e1 = scope.checkpoint(_large_star(e))
                e2, cur = _stars_checkpoint(scope, _small_star(e1))
                # Drop each superseded checkpoint immediately — waiting
                # for Python GC + ContextCleaner lets cached RDDs pile up.
                scope.drop(e1, e)
                e = e2
                rounds += 1
                if cur == prev:
                    break
                prev = cur
            else:
                # max_iter exhausted with the checksum still moving: the
                # star contraction did not reach fixpoint, so the groupBy-
                # min below collapses a NON-star residue — deterministic
                # but possibly non-minimum labels. Silent wrong labels at
                # scale are undebuggable — make the exit loud. (The
                # checksum is also probabilistic — a 64-bit-sum collision
                # would end a round early — but at count+sum granularity
                # that is a ~2^-64 event per round.)
                warnings.warn(
                    f"connected_components hit max_iter={max_iter} before "
                    "the edge-set checksum converged; labels may not be "
                    "component minima. Raise max_iter.",
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
            out = scope.checkpoint(
                verts.join(lbl, "u", "left").select(
                    F.col("u").alias(id_col),
                    F.coalesce("label", "u").alias("label"),
                )
            )
        out._graft_cc_rounds = rounds  # type: ignore[attr-defined]
        return scope.result(out)


def _stars_checkpoint(scope: checkpoint_scope, e: DataFrame) -> tuple[DataFrame, tuple]:
    """Checkpoint a canonical edge set in ``scope`` with its (count, xxhash64
    sum) — an order-independent edge-set checksum observed by the checkpoint
    job itself, so the convergence check costs no job of its own."""
    ck, m = scope.observed(
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
