"""Graph analytics over the merged KG edge table: triangle counting /
clustering coefficients, common-neighbor link prediction, and k-core
extraction — all as DataFrame joins (no GraphX/GraphFrames), the same
execution discipline as CC (operators/cc.py) and PageRank
(operators/pagerank.py).

Reference parity: the reference keeps its graph in NetworkX and exposes
degree/community structure (indexing/simple_graph_builder.py); these are the
standard follow-on analytics a KG consumer runs on that structure
(nx.triangles / nx.clustering / nx.k_core / common-neighbor link
prediction), re-expressed relationally so they run at 10^12-turn scale.

All operators share the undirected SIMPLE graph of the edge table
(multi-edges collapse, self-loops drop — `undirected_simple`), matching the
graph the community / PageRank stages use (oracle_graph._und_edges).

Scale notes (100 TB):
- `triangle_counts` uses DEGREE ORDERING (orient every edge from the
  lower-(degree, name) endpoint to the higher) so every wedge is generated
  at its lowest-degree vertex — out-degrees are bounded by O(sqrt(m)) and a
  celebrity hub never fans out deg^2 wedge rows. Three hash joins total,
  each on an edge-sized relation; no driver state.
- `link_prediction` enumerates wedges at their CENTER, which is inherently
  deg^2 per center — `max_center_degree` is the skew valve (drop hub
  centers from candidate generation; standard LP practice since hub
  co-citation carries little signal). Everything else is hash joins.
- `k_core` is iterative peeling: each round one degree aggregation + two
  anti joins, lineage reset per round (O(1) plan across rounds), the
  convergence counts observed by the degree checkpoint's own job.
- `hop_distances`, `shortest_path` and `betweenness_approx` run one BFS
  level loop (`_bfs_levels`) whose state is its list of per-level
  checkpoints: each hop anti-joins its candidates against the two previous
  levels only (the graph is symmetric), never against an accumulated
  settled set, so a hop's one eager action is its level's checkpoint.

Every distributed loop here ends its rounds in
``iterutils.checkpoint_scope.observed``, so its convergence test rides the
checkpoint job. Jobs per round were measured under AQE at
``driver_threshold=0`` on local[8] over tests/test_graph_loops.py's graph.
"""

from __future__ import annotations

from collections import Counter
from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graphrag_litex_spark.operators.iterutils import (
    DRIVER_THRESHOLD,
    checkpoint_scope,
    local_frame,
    local_graph,
    symmetric,
    undirected_simple,
)


def _degrees(und: DataFrame) -> DataFrame:
    """-> (vertex, degree) over the undirected simple graph."""
    return (
        symmetric(und)
        .groupBy(F.col("u").alias("vertex"))
        .agg(F.count(F.lit(1)).alias("degree"))
    )


def _triangles(und: DataFrame, deg: DataFrame) -> DataFrame:
    """Every triangle of the undirected simple graph exactly once, as
    (u, x, y) rows ordered by the (degree, name) orientation key — u is the
    lowest-keyed corner, x below y. Degree-ordered orientation bounds
    out-degree at O(sqrt m), so wedge fan-out is hub-proof; three hash
    joins, no driver state."""
    # A string key realizing the (degree, name) total order so orientation
    # is decided by one comparison (12 digits holds any realistic degree).
    key = F.format_string("%012d|%s", F.col("degree"), F.col("vertex"))
    keyed = deg.select("vertex", key.alias("k"))
    w = (
        und.join(keyed.withColumnRenamed("vertex", "a").withColumnRenamed("k", "ka"), "a")
        .join(keyed.withColumnRenamed("vertex", "b").withColumnRenamed("k", "kb"), "b")
    )
    lo_first = F.col("ka") < F.col("kb")
    oriented = w.select(
        F.when(lo_first, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(lo_first, F.col("b")).otherwise(F.col("a")).alias("v"),
        F.when(lo_first, F.col("kb")).otherwise(F.col("ka")).alias("kv"),
    )
    o1 = oriented.select(F.col("u"), F.col("v").alias("x"), F.col("kv").alias("kx"))
    o2 = oriented.select(F.col("u"), F.col("v").alias("y"), F.col("kv").alias("ky"))
    wedges = o1.join(o2, "u").where(F.col("kx") < F.col("ky"))
    closers = oriented.select(F.col("u").alias("x"), F.col("v").alias("y"))
    return wedges.join(closers, ["x", "y"]).select("u", "x", "y")


def triangle_counts(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Per-vertex triangle participation + local clustering coefficient.

    -> (vertex, degree, n_triangles, clustering); every vertex of the graph
    appears (triangle-free vertices with n_triangles=0).

    clustering = 2*T / (d*(d-1)) for d >= 2 else 0.0 — the integer inputs
    make the division a single exactly-rounded FP op, so the value is
    engine-deterministic (no FP-order-dependent sums).

    Plan: orient edges by the (degree, name) total order, enumerate wedges
    at the low end (out-degree bounded, hub-proof), close each wedge with a
    third hash join on the oriented edge set. Counting a triangle once per
    (u,v,w) and crediting all three corners reproduces nx.triangles.
    """
    und = undirected_simple(edges, src, dst)
    deg = _degrees(und)
    tri = _triangles(und, deg)
    corners = (
        tri.select(F.col("u").alias("vertex"))
        .unionAll(tri.select(F.col("x").alias("vertex")))
        .unionAll(tri.select(F.col("y").alias("vertex")))
        .groupBy("vertex")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    return deg.join(corners, "vertex", "left").select(
        "vertex",
        "degree",
        F.coalesce("n_triangles", F.lit(0)).alias("n_triangles"),
        F.when(
            F.col("degree") >= 2,
            F.round(
                2.0
                * F.coalesce("n_triangles", F.lit(0))
                / (F.col("degree") * (F.col("degree") - 1)),
                6,
            ),
        )
        .otherwise(F.lit(0.0))
        .alias("clustering"),
    )


def link_prediction(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_center_degree: int | None = None,
) -> DataFrame:
    """Common-neighbor link prediction over NON-adjacent vertex pairs.

    -> (a, b, common, jaccard, ra_micro) with a < b: `common` =
    |N(a) ∩ N(b)|, `jaccard` = common / |N(a) ∪ N(b)|, `ra_micro` =
    resource-allocation index in integer micro-units — only pairs with
    common >= 1 that are NOT already edges. Callers rank by
    (common, jaccard) or by ra_micro (RA weights rare shared neighbors
    over hubs: Zhou/Lü/Zhang 2009).

    jaccard = common / (deg_a + deg_b - common) over integers — one exactly
    rounded FP division, engine-deterministic. ra_micro = Σ over common
    neighbors z of (10^6 div deg(z)): the per-center contribution is an
    INTEGER (explicit truncating division, the harmonic60 trick from
    `harmonic_closeness`), so the sum is order-free and engine/partitioning
    exact — unlike a float Σ 1/deg whose value depends on addition order.
    Adamic-Adar (Σ 1/ln deg) is deliberately NOT emitted: libm ln is not
    cross-engine exact (same policy as trigram_logprob).

    `max_center_degree`: skew valve — wedge pairs are enumerated at their
    shared neighbor (center), which is deg^2 per center; dropping hub
    centers above the cap bounds the blowup (hub co-citation is weak LP
    signal — standard practice). None = exact.
    """
    und = undirected_simple(edges, src, dst)
    deg = _degrees(und)
    adj = symmetric(und)
    if max_center_degree is not None:
        centers_ok = deg.where(F.col("degree") <= max_center_degree).select(
            F.col("vertex").alias("u")
        )
        adj = adj.join(centers_ok, "u", "left_semi")
    # Center degree rides along on ONE side of the wedge self-join (deg is
    # vertex-cardinality — small next to the wedge fan-out, AQE broadcasts
    # it at any realistic scale), so RA needs no extra pass over the pairs.
    n1 = adj.join(deg.withColumnRenamed("vertex", "u"), "u").select(
        "u",
        F.col("v").alias("a"),
        F.expr("cast(1000000 div degree as long)").alias("_ra_c"),
    )
    n2 = adj.select("u", F.col("v").alias("b"))
    pairs = (
        n1.join(n2, "u")
        .where(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(
            F.count(F.lit(1)).alias("common"),
            F.sum("_ra_c").alias("ra_micro"),
        )
        .join(und, ["a", "b"], "left_anti")
    )
    da = deg.select(F.col("vertex").alias("a"), F.col("degree").alias("deg_a"))
    db = deg.select(F.col("vertex").alias("b"), F.col("degree").alias("deg_b"))
    return (
        pairs.join(da, "a")
        .join(db, "b")
        .select(
            "a",
            "b",
            "common",
            F.round(
                F.col("common") / (F.col("deg_a") + F.col("deg_b") - F.col("common")), 6
            ).alias("jaccard"),
            "ra_micro",
        )
    )


def k_core(
    edges: DataFrame,
    k: int,
    src: str = "src",
    dst: str = "dst",
    max_iters: int = 200,
) -> DataFrame:
    """The k-core of the undirected simple graph: iteratively peel vertices
    of degree < k until none remain. -> (vertex, core_degree) for the
    surviving vertices, core_degree = degree WITHIN the core.

    Matches nx.k_core(G, k).degree(). Peeling is order-independent, so the
    distributed rounds (remove ALL under-degree vertices at once) converge
    to the same fixpoint as any sequential peel.

    Per round: one degree agg + two anti joins against the (typically
    small, AQE-broadcastable) removal set; the degree frame is an observed
    checkpoint whose job also counts the under-degree vertices. 8 jobs per
    round.
    """
    spark = edges.sparkSession
    und = undirected_simple(edges, src, dst)
    n_part = max(spark.sparkContext.defaultParallelism, 8)
    with checkpoint_scope() as scope:
        adj = scope.checkpoint(symmetric(und).repartition(n_part, "u"))
        for _ in range(max_iters):
            deg, m = scope.observed(
                adj.groupBy("u").agg(F.count(F.lit(1)).alias("degree")),
                n_bad=F.count_if(F.col("degree") < k),
                n_all=F.count(F.lit(1)),
            )
            if m["n_all"] == 0:
                return spark.createDataFrame([], "vertex string, core_degree long")
            if m["n_bad"] == 0:
                return scope.result(
                    deg.select(F.col("u").alias("vertex"), F.col("degree").alias("core_degree")),
                    deg,
                )
            bad = deg.where(F.col("degree") < k).select("u")
            new_adj = scope.checkpoint(
                adj.join(bad, "u", "left_anti").join(
                    bad.withColumnRenamed("u", "v"), "v", "left_anti"
                )
            )
            scope.drop(deg, adj)
            adj = new_adj
        raise RuntimeError(f"k_core did not converge in {max_iters} rounds")


_TRUSS_SCHEMA = "a string, b string, support long"


def k_truss(
    edges: DataFrame,
    k: int,
    src: str = "src",
    dst: str = "dst",
    max_iters: int = 100,
    driver_threshold: int = DRIVER_THRESHOLD,
) -> DataFrame:
    """The k-truss of the undirected simple graph: the maximal subgraph in
    which every edge participates in >= k-2 triangles WITHIN the subgraph
    (Cohen 2008) — a cohesion filter strictly stronger than the k-1 core,
    the standard "keep only well-attested relationships" KG-cleanup cut.

    -> (a, b, support) for surviving edges (a < b), support = triangle
    count within the truss. Matches nx.k_truss(G, k) edge-for-edge.

    Peeling is confluent: removing any below-threshold edge only lowers
    other supports, so the distributed rounds (drop ALL below-threshold
    edges at once, recount) reach the same fixpoint as any sequential peel
    — same argument as `k_core`.

    Per round: one triangle enumeration over the CURRENT edge set
    (`_triangles` — degree-ordered, hub-proof, 3 hash joins), one per-edge
    support agg, one filter; lineage resets each round so the plan stays
    O(1) across rounds; the support frame is an observed checkpoint whose
    job also counts the below-threshold edges. 14 jobs per round.
    """
    spark = edges.sparkSession
    thresh = max(k - 2, 0)
    empty = local_frame(spark, [], ["a", "b", "support"], _TRUSS_SCHEMA)
    # Adaptive driver-local peel (iterutils.local_graph): below
    # ``driver_threshold`` state rows the dozens of checkpointed round jobs
    # are pure scheduler overhead; truss peeling is confluent, so the
    # sequential peel reaches the identical fixpoint (differentially
    # asserted at threshold 0 in tests).
    g = local_graph(edges, src, dst, driver_threshold)
    if g is not None:
        # Same peel as oracle_graph.k_truss_golden, but honoring max_iters
        # exactly like the distributed loop: a round that finds every edge
        # below threshold returns empty, and a cascade still peeling after
        # max_iters rounds raises the same RuntimeError.
        local = set(g.pairs)
        for _ in range(max_iters):
            adj_l: dict[str, set] = {}
            for ea, eb in local:
                adj_l.setdefault(ea, set()).add(eb)
                adj_l.setdefault(eb, set()).add(ea)
            supp = {(ea, eb): len(adj_l[ea] & adj_l[eb]) for ea, eb in local}
            bad = {e for e, s in supp.items() if s < thresh}
            if len(bad) == len(supp):
                return empty
            if not bad:
                return local_frame(
                    spark,
                    [(a, b, s) for (a, b), s in sorted(supp.items())],
                    ["a", "b", "support"],
                    _TRUSS_SCHEMA,
                )
            local -= bad
        raise RuntimeError(f"k_truss did not converge in {max_iters} rounds")
    with checkpoint_scope() as scope:
        und = scope.checkpoint(undirected_simple(edges, src, dst))
        for _ in range(max_iters):
            deg = _degrees(und)
            tri = _triangles(und, deg)
            # Each triangle credits its three edges; corners arrive in key
            # order, not value order, so re-canonicalize each pair.
            sides = (
                tri.select(F.col("u").alias("p"), F.col("x").alias("q"))
                .unionAll(tri.select(F.col("u").alias("p"), F.col("y").alias("q")))
                .unionAll(tri.select(F.col("x").alias("p"), F.col("y").alias("q")))
            )
            support = sides.select(
                F.least("p", "q").alias("a"), F.greatest("p", "q").alias("b")
            ).groupBy("a", "b").agg(F.count(F.lit(1)).alias("support"))
            scored, m = scope.observed(
                und.join(support, ["a", "b"], "left").select(
                    "a", "b", F.coalesce("support", F.lit(0)).alias("support")
                ),
                n_bad=F.count_if(F.col("support") < thresh),
                n_all=F.count(F.lit(1)),
            )
            if m["n_bad"] == m["n_all"]:
                # Every edge is below threshold (or none is left): the truss
                # is empty now, not one more round later.
                return empty
            if m["n_bad"] == 0:
                return scope.result(scored)
            new_und = scope.checkpoint(
                scored.where(F.col("support") >= thresh).select("a", "b")
            )
            scope.drop(scored, und)
            und = new_und
        raise RuntimeError(f"k_truss did not converge in {max_iters} rounds")


def wl_signatures(
    edges: DataFrame,
    rounds: int = 3,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Weisfeiler-Lehman label refinement over the undirected simple graph
    — per-vertex STRUCTURAL role signatures: after r rounds two vertices
    share a label iff their radius-r rooted neighborhood trees are
    isomorphic (up to a 64-bit hash collision). The relational form of the
    1-WL test (Shervashidze et al. 2011, WL graph kernels): role discovery,
    structural dedup, and — summed order-free — a graph fingerprint that is
    invariant under vertex renaming (unlike `stage_checksums`, which hashes
    names).

    -> (vertex, wl_label string). label_0 = degree; label_{i+1} =
    xxhash64(label_i || '|' || comma-joined ascending neighbor labels_i),
    carried as the signed decimal string so the hash input is
    engine-portable text. Isolated vertices never appear (the edge table IS
    the graph, as everywhere in this module).

    Per round: one adjacency join + one sort_array(collect_list) agg —
    both cluster on the vertex key, so AQE plans ONE exchange per side;
    `hard_checkpoint` keeps lineage O(1). Neighbor multisets are
    degree-bounded arrays: the hub valve is the same salting story as
    provenance union (E7) if a 10^8-degree vertex ever matters — at that
    degree the sorted multiset itself is the cost, and WL roles for such
    hubs are degenerate anyway.
    """
    with checkpoint_scope() as scope:
        adj = scope.checkpoint(symmetric(undirected_simple(edges, src, dst)))
        labels = scope.checkpoint(
            adj.groupBy(F.col("u").alias("vertex"))
            .agg(F.count(F.lit(1)).alias("degree"))
            .select("vertex", F.col("degree").cast("string").alias("wl_label"))
        )
        for _ in range(max(rounds, 0)):
            nb = (
                adj.join(
                    labels.select(
                        F.col("vertex").alias("v"), F.col("wl_label").alias("nl")
                    ),
                    "v",
                )
                .groupBy(F.col("u").alias("vertex"))
                .agg(
                    F.concat_ws(",", F.sort_array(F.collect_list("nl"))).alias("nls")
                )
            )
            new_labels = scope.checkpoint(
                labels.join(nb, "vertex").select(
                    "vertex",
                    F.xxhash64(F.concat_ws("|", "wl_label", "nls"))
                    .cast("string")
                    .alias("wl_label"),
                )
            )
            scope.drop(labels)
            labels = new_labels
        return scope.result(labels)


def wl_structure_fingerprint(
    edges: DataFrame,
    rounds: int = 2,
    src: str = "src",
    dst: str = "dst",
) -> str:
    """Rename-invariant structural fingerprint: ``"n_roles:checksum"``
    where checksum is the order-free decimal sum of xxhash64 over the WL
    role histogram's (wl_label, count) rows. Two graphs fingerprint equal
    iff their WL role multisets match — i.e. they are indistinguishable to
    the 1-WL isomorphism test — regardless of vertex names, row order, or
    partitioning. The structural twin of `plans.pipeline.stage_checksums`
    (which hashes names and so sees every rename as a change); one graph
    pass + two scalar aggs, nothing histogram-sized reaches the driver.
    """
    with checkpoint_scope() as scope:
        hist = (
            scope.own(wl_signatures(edges, rounds=rounds, src=src, dst=dst))
            .groupBy("wl_label")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        row = hist.agg(
            F.count(F.lit(1)).alias("n_roles"),
            # decimal sum: hash sums overflow bigint by design (ANSI would raise)
            F.coalesce(
                F.sum(F.xxhash64("wl_label", "n").cast("decimal(20,0)")), F.lit(0)
            ).alias("fp"),
        ).first()
    return f"{row['n_roles']}:{row['fp']}"


_NF_SCHEMA = "t int, reachable_pairs double"


def _bfs(adj: dict[str, list[str]], source: str, max_hops: int) -> dict[str, int]:
    """{vertex: distance} for every vertex within ``max_hops`` of
    ``source`` over a driver-local adjacency (``LocalGraph.adj``)."""
    dist = {source: 0}
    frontier = [source]
    for hop in range(1, max_hops + 1):
        nxt = []
        for u in frontier:
            for v in adj.get(u, ()):
                if v not in dist:
                    dist[v] = hop
                    nxt.append(v)
        if not nxt:
            break
        frontier = nxt
    return dist


def _exact_neighborhood(adj: dict[str, list[str]], max_t: int) -> list[tuple[int, float]]:
    """Exact N(t), t = 0..max_t, from one BFS per vertex (a histogram of
    distances), with the distributed loop's early exit: stop after the
    first repeated total, inclusive."""
    hist = Counter(d for s in adj for d in _bfs(adj, s, max_t).values())
    out: list[tuple[int, float]] = []
    total = 0
    for t in range(max_t + 1):
        total += hist[t]
        out.append((t, float(total)))
        if t and total == out[-2][1]:
            break
    return out


def neighborhood_function(
    edges: DataFrame,
    max_t: int = 4,
    lg_k: int = 12,
    src: str = "src",
    dst: str = "dst",
    driver_threshold: int = 256,
) -> DataFrame:
    """HyperBall / HyperANF (Boldi, Rosa & Vigna, "HyperANF: Approximating
    the Neighbourhood Function of Very Large Graphs", WWW 2011): the
    neighborhood function N(t) = # ordered pairs (u, v) with
    dist(u, v) <= t (self-pairs included), estimated by per-vertex
    DataSketches HLL sketches of the distance-t ball.

    -> (t, reachable_pairs) for t = 0..max_t (early exit when the total
    stops growing — every ball has stabilized). N(t)/N(max) is the
    classic effective-diameter / average-distance profile of a web-scale
    graph — the metric HyperANF was built for.

    Per round: ball(v, t) = ball(v, t-1) ∪ (∪ over neighbors n of
    ball(n, t-1)) — ONE adjacency hash join + one `hll_union_agg`
    (map-side-combinable), whose checkpoint job also observes the
    ball-size total: 5 jobs per round. The estimates are
    partitioning-invariant only while every sketch stays in exact coupon
    mode; past it, the union's mode promotions make them move with the
    merge order, i.e. with the partitioning (2103 vs 2108 seen for one
    ball-size total). State is |V| sketches of 2^lg_k registers —
    the whole point of HyperBall: exact BFS state is O(V^2), sketches make
    it O(V * 2^lg_k) with ~1.6%/sqrt(2^lg_k) relative error. lg_k is the
    accuracy/state knob (12 -> ~2.5% at true scale; at test scale the
    sketches stay in exact coupon mode for balls << 2^lg_k, so estimates
    are EXACT integers — what the oracle relies on).

    The per-round total is a scalar; only max_t+1 doubles reach the
    driver.
    """
    spark = edges.sparkSession
    # Adaptive driver-local exact BFS — the valve is gated on the VERTEX
    # count, clamped to (1 << lg_k) // 16 (256 at lg_k=12, deliberately
    # tighter than the other graph valves): the sketch estimates equal the
    # exact counts only while every ball stays in the sketches' exact
    # coupon regime (DataSketches HLL leaves the exact SET mode around
    # k/8 = 512 coupons at lg_k=12, so 256 keeps the largest possible ball
    # — the whole vertex set — at half that bound, whatever the caller
    # passes). The edge probe itself is bounded by the module-wide
    # driver-transfer cap.
    gate = min(driver_threshold, (1 << lg_k) // 16)
    g = local_graph(edges, src, dst, DRIVER_THRESHOLD) if gate > 0 and lg_k >= 12 else None
    if g is not None and len(g.adj) <= gate:
        return local_frame(
            spark, _exact_neighborhood(g.adj, max_t), ["t", "reachable_pairs"], _NF_SCHEMA
        )
    lgk = F.lit(lg_k)
    # The ball-size total is observed by each state checkpoint's own job.
    ball_total = F.sum(F.hll_sketch_estimate("sk"))
    with checkpoint_scope() as scope:
        adj = scope.checkpoint(symmetric(undirected_simple(edges, src, dst)))
        state, m = scope.observed(
            adj.select(F.col("u").alias("vertex"))
            .distinct()
            .groupBy("vertex")
            .agg(F.hll_sketch_agg("vertex", lgk).alias("sk")),
            n=ball_total,
        )
        totals = [(0, float(m["n"]))]
        for t in range(1, max_t + 1):
            nb = adj.join(
                state.select(F.col("vertex").alias("v"), "sk"), "v"
            ).select(F.col("u").alias("vertex"), "sk")
            new_state, m = scope.observed(
                state.unionByName(nb)
                .groupBy("vertex")
                # (lg_k rides inside each sketch; the union's second
                # parameter is allowDifferentLgConfigK, not a config)
                .agg(F.hll_union_agg("sk").alias("sk")),
                n=ball_total,
            )
            scope.drop(state)
            state = new_state
            total = float(m["n"])
            totals.append((t, total))
            if total == totals[-2][1]:
                # No ball grew this round (register states are monotone, so an
                # unchanged total means a fixpoint up to estimate resolution):
                # every later N(t) equals this one; stop spending rounds.
                break
    return local_frame(spark, totals, ["t", "reachable_pairs"], _NF_SCHEMA)


def degree_assortativity_components(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Newman degree-assortativity (r) sufficient statistics over the
    undirected simple graph -> ONE row of exact INTEGER sums
    (m2 = 2|E| ordered stubs, s_xy, s_x, s_x2, over ordered endpoint-degree
    pairs; the graph is symmetric so the y-sums equal the x-sums):

        r = (s_xy/m2 - (s_x/m2)^2) / (s_x2/m2 - (s_x/m2)^2)

    Keeping the output integer makes it engine/partitioning-exact (the
    division/squares are the caller's one FP step — same policy as
    trigram_novelty); :func:`degree_assortativity` does that step.

    Plan: degrees = one agg; each edge joins the degree map twice (degree
    map is vertex-cardinality — AQE/broadcast); one final 1-row aggregate.
    """
    sym = symmetric(undirected_simple(edges, src, dst))
    deg = sym.groupBy("u").agg(F.count(F.lit(1)).alias("d"))
    du = deg.select(F.col("u"), F.col("d").alias("dx"))
    dv = deg.select(F.col("u").alias("v"), F.col("d").alias("dy"))
    stubs = sym.join(du, "u").join(dv, "v")
    return stubs.agg(
        F.count(F.lit(1)).alias("m2"),
        F.sum(F.col("dx") * F.col("dy")).alias("s_xy"),
        F.sum("dx").alias("s_x"),
        F.sum(F.col("dx") * F.col("dx")).alias("s_x2"),
    )


def degree_assortativity(edges: DataFrame, src: str = "src", dst: str = "dst") -> float:
    """Newman's r from the integer components (driver-side single FP
    step). Returns nan for degenerate graphs (regular graphs have zero
    degree variance)."""
    row = degree_assortativity_components(edges, src, dst).first()
    m2 = row["m2"]
    if not m2:
        return float("nan")
    mean = row["s_x"] / m2
    var = row["s_x2"] / m2 - mean * mean
    if var == 0:
        return float("nan")
    return (row["s_xy"] / m2 - mean * mean) / var


def _bfs_levels(
    scope: checkpoint_scope, seed: DataFrame, expand, keys: list[str], max_hops: int, **metrics
) -> tuple[list[DataFrame], dict]:
    """Level-synchronous BFS over a SYMMETRIC adjacency -> ``(levels,
    m)``: ``levels[d]`` is the observed checkpoint, held by ``scope``, of
    the rows at hop d (``levels[0]`` the seed, kept even when empty), ``m``
    the last observed level's metrics.

    Hop d is ``expand(levels[d - 1], d)`` (candidate rows keyed by
    ``keys``) anti-joined against levels d-1 and d-2 only: every neighbor
    of a vertex at distance d-1 lies at distance d-2, d-1 or d, so in a
    symmetric graph no earlier level can be re-reached and no accumulated
    settled set is needed. The level's checkpoint job observes its size
    ``n`` and ``metrics`` (name -> aggregate Column) — the hop's only
    eager action. The loop ends after ``max_hops``, at the first empty
    level (released, not kept) or after a level with a nonzero metric.
    """
    count = F.count(F.lit(1))
    level, m = scope.observed(seed, n=count, **metrics)
    levels = [level]
    for hop in range(1, max_hops + 1):
        if m["n"] == 0 or any(m[k] for k in metrics):
            break
        seen = reduce(DataFrame.union, [lv.select(*keys) for lv in levels[-2:]])
        level, m = scope.observed(
            expand(levels[-1], hop).join(seen, keys, "left_anti"), n=count, **metrics
        )
        if m["n"] == 0:
            scope.drop(level)
            break
        levels.append(level)
    return levels, m


def _pivots(sym: DataFrame, n: int) -> list[str]:
    """The ``n`` vertices of ``sym`` with the smallest (xxhash64(name),
    name): the deterministic, engine-portable pivot sample of
    harmonic_closeness and betweenness_approx, replicated by the
    pure-Python goldens."""
    verts = sym.select(F.col("u").alias("vertex")).distinct()
    return [
        r["vertex"]
        for r in verts.orderBy(F.xxhash64("vertex").asc(), F.col("vertex").asc())
        .limit(n)
        .collect()
    ]


def hop_distances(
    edges: DataFrame,
    sources: list,
    max_hops: int = 6,
    src: str = "src",
    dst: str = "dst",
    driver_threshold: int = DRIVER_THRESHOLD,
) -> DataFrame:
    """Multi-source BFS over the undirected simple graph -> one row per
    (vertex, source, dist) with dist <= ``max_hops`` (sources themselves at
    dist 0) — the frontier-expansion iterative primitive (shortest paths,
    reachability, closeness) as a hash-join loop, no GraphX.

    Plan shape: adjacency symmetrized + checkpointed once; each hop
    (:func:`_bfs_levels`) is one join of the CURRENT FRONTIER into the
    adjacency, a (vertex, source) dedupe, and an anti-join against the
    two previous levels — so per-hop work is frontier-proportional and
    total state is O(V x |sources|), never edge-proportional. A hop is one
    observed checkpoint and no other action (7 jobs with its AQE query
    stages); the result is one checkpoint of the union of the levels.
    """
    spark = edges.sparkSession
    # Adaptive driver-local BFS (iterutils.local_graph): the per-hop join
    # loop spends one checkpointed job per hop, which is pure overhead when
    # the whole edge set fits on the driver. BFS has a unique fixpoint, so
    # the local result is row-identical (source rows at dist 0 per
    # occurrence, one row per reached (vertex, source), dist <= max_hops;
    # asserted at threshold 0 in tests). Both paths compare sources as
    # strings.
    sources = [str(s) for s in sources]
    g = local_graph(edges, src, dst, driver_threshold)
    if g is not None:
        rows = [(s, s, 0) for s in sources]
        for s in set(sources):
            rows += [(v, s, d) for v, d in _bfs(g.adj, s, max_hops).items() if d]
        return local_frame(
            spark, rows, ["vertex", "source", "dist"], "vertex string, source string, dist int"
        )
    seed = local_frame(spark, [(s,) for s in sources], ["vertex"], "vertex string").select(
        F.col("vertex"), F.col("vertex").alias("source"), F.lit(0).alias("dist")
    )
    with checkpoint_scope() as scope:
        sym = scope.checkpoint(symmetric(undirected_simple(edges, src, dst)))

        def expand(frontier: DataFrame, hop: int) -> DataFrame:
            return (
                frontier.join(sym, frontier["vertex"] == sym["u"])
                .select(F.col("v").alias("vertex"), "source", F.lit(hop).alias("dist"))
                .distinct()
            )

        levels, _ = _bfs_levels(scope, seed, expand, ["vertex", "source"], max_hops)
        return scope.result(scope.checkpoint(reduce(DataFrame.union, levels)))


def shortest_path(
    edges: DataFrame,
    source: str,
    target: str,
    max_hops: int = 10,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """One shortest path between two vertices of the undirected simple
    graph, RECONSTRUCTED — the "how are these two entities related?" query
    a KG consumer actually asks (hop_distances gives distances only).

    -> ONE row (found, hops, path array<string>, path_str). Among all
    shortest paths a CANONICAL one is returned — every vertex keeps its
    minimum-name BFS parent, and the backtrack follows that parent chain —
    so the answer is a pure function of the graph: deterministic across
    engines, reruns, and partitionings, hence oracle-checkable.
    found=false (hops=-1, empty path) when target is unreachable within
    ``max_hops`` or either endpoint is absent.

    Plan: the frontier BFS loop (:func:`_bfs_levels`; per hop one
    frontier-sized adjacency join + a min-parent agg + an anti-join
    against the two previous levels). Each level is an observed
    checkpoint whose job also reports its size and whether it holds the
    target, so the early exits cost no action of their own (7 jobs per
    hop). Backtracking then looks each parent up in the level above it:
    <= hops single-row lookups — driver work bounded by the path length,
    never by V (the same "<= k rows reach the driver" budget as the
    query-path reduce).
    """
    spark = edges.sparkSession
    out_schema = "found boolean, hops int, path array<string>, path_str string"
    with checkpoint_scope() as scope:
        sym = scope.checkpoint(symmetric(undirected_simple(edges, src, dst)))
        # The source, if it is in the graph.
        seed = spark.createDataFrame(
            [(str(source), None, 0)], "vertex string, parent string, dist int"
        ).join(sym.select(F.col("u").alias("vertex")).distinct(), "vertex", "left_semi")

        def expand(frontier: DataFrame, hop: int) -> DataFrame:
            return (
                frontier.select("vertex")
                .join(sym, frontier["vertex"] == sym["u"])
                .groupBy(F.col("v").alias("vertex"))
                .agg(F.min("u").alias("parent"))
                .select("vertex", "parent", F.lit(hop).alias("dist"))
            )

        levels, m = _bfs_levels(
            scope,
            seed,
            expand,
            ["vertex"],
            max_hops,
            # Unsettled before its level, so settled there iff present.
            target=F.count_if(F.col("vertex") == str(target)),
        )
        if m["target"] == 0:
            return spark.createDataFrame([(False, -1, [], "")], out_schema)
        # Backtrack: one one-row lookup per level, deepest first.
        path = [str(target)]
        for level in reversed(levels[1:]):
            path.append(level.where(F.col("vertex") == path[-1]).first()["parent"])
    path.reverse()
    return spark.createDataFrame([(True, len(levels) - 1, path, " -> ".join(path))], out_schema)


def harmonic_closeness(
    edges: DataFrame,
    n_sources: int = 8,
    max_hops: int = 6,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Approximate harmonic centrality (Eppstein-Wang sampling): BFS from
    ``n_sources`` deterministically-sampled pivots (:func:`_pivots`), then
    per vertex sum 1/dist over the pivots that reach it.

    Exact-arithmetic form: with max_hops <= 6, 60/dist is an INTEGER for
    every reachable dist (60 = lcm(1..6)), so ``harmonic60`` = sum of
    60/dist is an exact integer — engine- and partitioning-deterministic —
    and ``closeness`` = harmonic60 / (60 * n_sources) is one
    exactly-rounded division (the estimator's normalization; multiply by
    (N-1) for the unbiased absolute estimate). Cost: n_sources
    frontier-bounded BFS sweeps in ONE shared loop — the standard trade
    against the O(V*E) exact computation, which does not exist at 100 TB.
    The result reads the distances' checkpoint: pass it to
    ``iterutils.release`` once consumed.
    """
    if max_hops > 6:
        raise ValueError("max_hops > 6 breaks the exact-60 arithmetic; raise the LCM")
    pivots = _pivots(symmetric(undirected_simple(edges, src, dst)), n_sources)
    if not pivots:  # empty graph
        return edges.sparkSession.createDataFrame(
            [], "name string, n_reached bigint, harmonic60 bigint, closeness double"
        )
    with checkpoint_scope() as scope:
        d = scope.own(hop_distances(edges, pivots, max_hops, src, dst))
        out = (
            d.where(F.col("dist") > 0)
            .groupBy("vertex")
            .agg(
                F.count(F.lit(1)).alias("n_reached"),
                F.sum((F.lit(60) / F.col("dist")).cast("long")).alias("harmonic60"),
            )
            .select(
                F.col("vertex").alias("name"),
                "n_reached",
                "harmonic60",
                F.round(F.col("harmonic60") / F.lit(60 * len(pivots)), 6).alias("closeness"),
            )
        )
        return scope.result(out, d)


def betweenness_approx(
    edges: DataFrame,
    n_sources: int = 8,
    max_hops: int = 8,
    src: str = "src",
    dst: str = "dst",
    sources: list | None = None,
) -> DataFrame:
    """Approximate betweenness centrality (Brandes 2001 dependency
    accumulation over Brandes-Pich 2007 sampled pivots) -> (name,
    betweenness), betweenness = sum over pivots s of the dependency
    delta_s(v) for v != s, rounded to 6dp. Scale by N/(2*k) for the
    unbiased absolute undirected estimate — like harmonic_closeness, the
    raw estimator is published and the normalization documented, since the
    sampled sum is the engine-comparable quantity.

    Pivots: :func:`_pivots`, the same deterministic, engine-portable
    sampling rule as harmonic_closeness, replicated by the pure-Python
    golden. ``sources`` overrides sampling for tests.

    Plan shape (everything hash joins + aggregates, hard_checkpoint per
    round like CC/PageRank):
      * forward: level-synchronous multi-source BFS (:func:`_bfs_levels`)
        carrying sigma (shortest-path counts) — sigma(w, level d+1) = SUM
        of sigma over w's level-d in-frontier neighbors, one join + one
        map-side-combined agg + one anti-join against the two previous
        levels per level (7 jobs, the level's observed checkpoint); state
        O(V x k), never edge-bound.
      * successor relation: one join of the levels' union into the
        adjacency filtered to dist_w = dist_v + 1, checkpointed once.
      * backward: levels walked max_d -> 1; per level one equi-join of the
        level's successor slice with the deeper level's deltas + one agg.
        delta(v) = sum_w sigma_v/sigma_w * (1 + delta_w). sigma stays
        integer; delta is double, rounded at publication (same 6dp
        determinism stance as avg-strength oracles). The deepest level's
        deltas are all 0 and stay lazy.
    ``max_hops`` truncates the BFS DAG (paths longer than max_hops
    contribute nothing — the standard bounded-radius approximation); the
    golden replicates the same truncation.
    """
    spark = edges.sparkSession
    empty = spark.createDataFrame([], "name string, betweenness double")
    with checkpoint_scope() as scope:
        sym = scope.checkpoint(symmetric(undirected_simple(edges, src, dst)))
        if sources is None:
            sources = _pivots(sym, n_sources)
        if not sources:
            return empty
        seed = local_frame(spark, [(str(s),) for s in sources], ["source"], "source string").select(
            "source",
            F.col("source").alias("vertex"),
            F.lit(0).alias("dist"),
            F.lit(1).cast("long").alias("sigma"),
        )

        def expand(frontier: DataFrame, hop: int) -> DataFrame:
            return (
                frontier.join(sym, frontier["vertex"] == sym["u"])
                .groupBy("source", F.col("v").alias("vertex"))
                .agg(F.sum("sigma").alias("sigma"))
                .select("source", "vertex", F.lit(hop).alias("dist"), "sigma")
            )

        # Forward: BFS levels with path counting.
        levels, _ = _bfs_levels(scope, seed, expand, ["source", "vertex"], max_hops)
        max_d = len(levels) - 1
        if max_d == 0:
            return empty
        state = reduce(DataFrame.union, levels)
        # Successor relation: (source, v at dist d) -> (w at dist d+1).
        succ = scope.checkpoint(
            state.alias("sv")
            .join(sym, F.col("sv.vertex") == F.col("u"))
            .select(
                F.col("sv.source").alias("source"),
                F.col("sv.vertex").alias("v"),
                F.col("sv.dist").alias("dist"),
                F.col("sv.sigma").alias("sigma"),
                F.col("v").alias("w"),
            )
            .join(
                state.select(
                    "source",
                    F.col("vertex").alias("w"),
                    F.col("dist").alias("dist_w"),
                    F.col("sigma").alias("sigma_w"),
                ),
                ["source", "w"],
            )
            .where(F.col("dist_w") == F.col("dist") + 1)
        )
        # Backward: deepest level has no successors -> delta 0.
        delta = levels[max_d].select("source", "vertex", F.lit(0.0).alias("delta"))
        level_deltas = [delta]
        for d in range(max_d - 1, 0, -1):
            contrib = (
                succ.where(F.col("dist") == d)
                .join(
                    delta.select(
                        "source",
                        F.col("vertex").alias("w"),
                        F.col("delta").alias("delta_w"),
                    ),
                    ["source", "w"],
                )
                .groupBy("source", "v")
                .agg(
                    F.sum(
                        F.col("sigma") / F.col("sigma_w") * (F.lit(1.0) + F.col("delta_w"))
                    ).alias("delta")
                )
                .withColumnRenamed("v", "vertex")
            )
            delta = scope.checkpoint(
                levels[d]
                .select("source", "vertex")
                .join(contrib, ["source", "vertex"], "left")
                .select(
                    "source", "vertex", F.coalesce("delta", F.lit(0.0)).alias("delta")
                )
            )
            level_deltas.append(delta)
        # Materialized: the scope frees every checkpoint it reads on exit.
        return scope.result(
            scope.checkpoint(
                reduce(DataFrame.union, level_deltas)
                .groupBy("vertex")
                .agg(F.round(F.sum("delta"), 6).alias("betweenness"))
                .select(F.col("vertex").alias("name"), "betweenness")
            )
        )


def related_entities_rrf(
    triples: DataFrame,
    mentions_canon: DataFrame,
    anchor: str,
    k: int = 10,
    rrf_k: int = 60,
    per_signal_cap: int = 100,
) -> DataFrame:
    """Hybrid "related entities" via reciprocal-rank fusion (RRF,
    Cormack/Clarke/Buettcher SIGIR'09 — the fusion rule behind hybrid
    retrieval in Elasticsearch/Vespa): three independent relatedness
    signals are each turned into a RANKING, and rankings — not raw
    scores — are fused, so incomparable scales (edge counts vs chunk
    counts) need no normalization.

    Signals, each anchored at ``anchor`` (a canonical entity name):
      1. attestation   — number of triple sightings between anchor and x
      2. common-nbrs   — shared neighbors on the undirected simple graph
      3. co-mentions   — distinct chunks mentioning both anchor and x

    Fusion: contribution of rank r is ``1e9 div (rrf_k + r)`` — a
    TRUNCATING integer division, so the fused score is an exact bigint
    both engines compute identically (same policy as the micro-unit
    ratios elsewhere). Ranks are total orders (weight desc, name asc);
    each signal list is capped at ``per_signal_cap`` (RRF converges fast:
    rank 100 at k=60 contributes <1% of rank 1).

    Scale: every signal is anchor-local — neighbors, wedges through the
    anchor, co-mention partners — so candidate generation touches the
    anchor's neighborhood, never the full graph; the union is at most
    ``3 * per_signal_cap`` rows. ``mentions_canon`` must carry
    (chunk_id, canonical); pass the mentions view joined to the canon
    map (tiny vs the mention stream, broadcast below the valve).
    """
    a = F.lit(anchor)

    # s1: attestation count between anchor and x (either direction).
    s1 = (
        triples.where(
            ((F.col("subj") == a) | (F.col("obj") == a))
            & (F.col("subj") != F.col("obj"))
        )
        .select(
            F.when(F.col("subj") == a, F.col("obj"))
            .otherwise(F.col("subj"))
            .alias("name")
        )
        .groupBy("name")
        .agg(F.count(F.lit(1)).alias("w"))
    )

    # s2: common-neighbor count over the undirected simple graph.
    adj = symmetric(undirected_simple(triples, "subj", "obj"))
    na = adj.where(F.col("u") == a).select(F.col("v").alias("n"))
    s2 = (
        na.join(adj, na.n == adj.u)
        .where(F.col("v") != a)
        .groupBy(F.col("v").alias("name"))
        .agg(F.count(F.lit(1)).alias("w"))
    )

    # s3: distinct chunks mentioning both anchor and x.
    m = mentions_canon.select("chunk_id", "canonical").distinct()
    m1 = m.where(F.col("canonical") == a).select("chunk_id")
    s3 = (
        m1.join(m, "chunk_id")
        .where(F.col("canonical") != a)
        .groupBy(F.col("canonical").alias("name"))
        .agg(F.count(F.lit(1)).alias("w"))
    )

    from pyspark.sql import Window

    def ranked(sig: DataFrame) -> DataFrame:
        w = Window.orderBy(F.col("w").desc(), F.col("name").asc())
        return (
            sig.withColumn("rnk", F.row_number().over(w))
            .where(F.col("rnk") <= per_signal_cap)
            .select("name", "rnk")
        )

    u = ranked(s1).unionAll(ranked(s2)).unionAll(ranked(s3))
    return (
        u.groupBy("name")
        .agg(
            F.sum(F.expr(f"{1_000_000_000} div ({rrf_k} + rnk)"))
            .cast("long")
            .alias("score_nano"),
            F.count(F.lit(1)).cast("long").alias("n_signals"),
        )
        .orderBy(F.col("score_nano").desc(), F.col("name").asc())
        .limit(k)
    )


def sparsify_topk(
    edges: DataFrame,
    k: int,
    weight_col: str | None = None,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """kNN graph sparsification: keep an undirected edge iff it ranks in
    the top-``k`` of EITHER endpoint's adjacency (union-kNN, the standard
    pre-step before community detection / embedding walks on hub-heavy
    graphs — a celebrity entity's million weak edges drown LPA and blow up
    wedge enumeration; its k strongest survive).

    Rank order per endpoint: (weight desc, neighbor asc) when
    ``weight_col`` is given (weights of parallel edges summed), else
    (neighbor asc) — both total orders, so the kept set is deterministic
    and engine-replicable. -> (a, b, weight, rank_a, rank_b) with a < b;
    rank_x = the edge's rank in x's adjacency (what kept it).

    Plan: one symmetrization union + one per-endpoint window (partitioned
    by the endpoint, state bounded by max degree) + one self-join-free
    regroup — no corpus-sized sort, no driver state. At 10^12-turn scale
    the windows shuffle edge-sized relations hash-partitioned by vertex,
    the same shape LPA already uses.
    """
    from pyspark.sql import Window

    a, b = F.least(F.col(src), F.col(dst)), F.greatest(F.col(src), F.col(dst))
    und = (
        edges.where(F.col(src) != F.col(dst))
        .select(a.alias("a"), b.alias("b"), *( [F.col(weight_col)] if weight_col else [] ))
        .groupBy("a", "b")
        .agg(
            (F.sum(weight_col) if weight_col else F.count(F.lit(1)).cast("double")).alias(
                "weight"
            )
        )
    )
    sym = und.select(F.col("a").alias("u"), F.col("b").alias("v"), "weight").unionAll(
        und.select(F.col("b").alias("u"), F.col("a").alias("v"), "weight")
    )
    win = Window.partitionBy("u").orderBy(F.col("weight").desc(), F.col("v").asc())
    ranked = sym.withColumn("rnk", F.row_number().over(win))
    per_edge = ranked.select(
        F.least("u", "v").alias("a"),
        F.greatest("u", "v").alias("b"),
        "weight",
        F.when(F.col("u") < F.col("v"), F.col("rnk")).alias("ra"),
        F.when(F.col("u") > F.col("v"), F.col("rnk")).alias("rb"),
    )
    return (
        per_edge.groupBy("a", "b")
        .agg(
            F.first("weight").alias("weight"),
            F.max("ra").cast("long").alias("rank_a"),
            F.max("rb").cast("long").alias("rank_b"),
        )
        .where((F.col("rank_a") <= k) | (F.col("rank_b") <= k))
    )
