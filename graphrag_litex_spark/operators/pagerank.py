"""Entity salience via PageRank over the merged KG edges — implemented as
the north-rule style iterative hash-join loop (no GraphX/GraphFrames), the
same execution shape as CC canonicalization (operators/cc.py) and LPA
(operators/communities.py).

Semantics: classic damped PageRank on the UNDIRECTED simple graph of the
edge table (multi-edges collapse, self-loops drop — the same graph the
community stages use, `oracle_graph._und_edges`). Symmetrizing removes
dangling vertices by construction (every vertex has degree >= 1), so the
update is the pure two-term form

    r'(v) = (1 - d) / N  +  d * sum_{u ~ v} r(u) / deg(u)

Scale shape: the adjacency is materialized once (hash-partitioned by src
and checkpointed), and so is the degree table, whose checkpoint job also
observes N and the seed count; each iteration is ONE shuffle — join ranks
(one row per vertex, deg rides along) into the adjacency on src, then
re-aggregate on dst (7 jobs per round under AQE, measured at
``driver_threshold=0`` on local[8] over tests/test_graph_loops.py's
graph). Rank state is vertex-proportional, never edge-proportional. Each
round goes through `hard_checkpoint` so the plan/lineage (and the
optimizer's sizeInBytes estimate) stays O(1) across iterations — see
iterutils.py for why plain localCheckpoint is not enough.

Differential oracle: `oracle_graph.pagerank_golden` replicates this
bit-for-bit-modulo-FP-order in pure Python; the driver value-compares the
rounded ranks (golden parquet, `kg_entity_rank`).
"""

from __future__ import annotations

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

_SCHEMA = "vertex string, rank double"


def _pagerank_driver_local(
    spark,
    adj: dict[str, list[str]],
    damping: float,
    iters: int,
    seed_set: set | None,
) -> DataFrame:
    """Driver-local power iteration for graphs whose edge set fits on the
    driver — the same adaptive stance as `cc.connected_components`: below
    the threshold, 10 distributed rounds are pure scheduler overhead, so
    run the identical arithmetic locally. The loop mirrors
    `oracle_graph.pagerank_golden` term for term IN THE SAME SUMMATION
    ORDER (sorted vertices, sorted neighbors — the order of
    ``LocalGraph.adj``), so driver-local output is bit-identical to the
    golden and agrees with the distributed loop far inside the 1e-6
    rounding both publish (asserted in tests/test_pagerank.py)."""
    verts = list(adj)
    rows: list[tuple[str, float]] = []
    present = set(verts) if seed_set is None else seed_set & set(verts)
    if present:
        base = {v: ((1.0 - damping) / len(present) if v in present else 0.0) for v in verts}
        r = {v: (1.0 / len(present) if v in present else 0.0) for v in verts}
        for _ in range(iters):
            acc = dict.fromkeys(verts, 0.0)
            for v in verts:
                share = r[v] / len(adj[v])
                for u in adj[v]:
                    acc[u] += share
            r = {v: base[v] + damping * acc[v] for v in verts}
        rows = [(v, r[v]) for v in verts]
    return local_frame(spark, rows, ["vertex", "rank"], _SCHEMA)


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    damping: float = 0.85,
    iters: int = 10,
    seeds: list | DataFrame | None = None,
    driver_threshold: int = DRIVER_THRESHOLD,
) -> DataFrame:
    """-> (vertex, rank) over the undirected simple graph of ``edges``.

    Fixed ``iters`` power iterations (deterministic runtime and output —
    parity with the pure-Python golden needs an iteration count, not an
    epsilon race).

    ``seeds``: PERSONALIZED PageRank — the teleport mass (1-d) returns to a
    uniform distribution over the seed vertices instead of all vertices
    (seeds not present in the graph contribute nothing). This is GraphRAG
    "local search" ranking: entities reachable from the question's entities
    score by graph proximity. Same plan shape; the reset vector is a
    broadcast-sized column. Seeds may be a Python list (question-sized, a
    handful of strings) OR a single-column DataFrame (community-sized seed
    sets — e.g. DRIFT search — stay distributed: marked via a hash join,
    nothing vertex-proportional ever reaches the driver).

    Adaptive: when the graph is under ``driver_threshold`` state rows
    (raw edges x 2 directions + <= 2 vertices per edge — the rule of
    `iterutils.local_graph`, shared by every graph valve), the 10 checkpointed
    distributed rounds are pure scheduler overhead, so the power iteration
    runs driver-local in the golden's exact summation order (bit-identical
    to `oracle_graph.pagerank_golden`; rounded-1e-6 identical to the
    distributed loop, asserted in tests). Larger graphs take the
    one-shuffle-per-round hash-join loop unchanged."""
    spark = edges.sparkSession
    # Driver-local regime (iterutils.local_graph): one raw-row limit probe
    # of the edges, with the least/greatest+dedup done locally — the
    # identical undirected edge set (Python string ordering == UTF8String
    # byte order), so bit-identical ranks.
    g = local_graph(edges, src, dst, driver_threshold)
    if g is not None:
        if seeds is None:
            seed_set = None
        elif isinstance(seeds, DataFrame):
            # Graph-bounded collect: semi-join the seed column against the
            # (tiny, driver-local-regime) vertex set BEFORE collecting, so
            # an oversized seed frame never ships to the driver.
            vdf = local_frame(spark, [(v,) for v in g.adj], ["u"], "u string")
            seed_set = {
                r["u"]
                for r in seeds.select(F.col(seeds.columns[0]).alias("u"))
                .distinct()
                .join(F.broadcast(vdf), "u", "left_semi")
                .collect()
            }
        else:
            seed_set = set(seeds)
        return _pagerank_driver_local(spark, g.adj, damping, iters, seed_set)
    # Both directions, partitioned by the join side once and pinned; the
    # per-iteration join then shuffles only the vertex-sized rank state.
    n_part = max(spark.sparkContext.defaultParallelism, 8)
    with checkpoint_scope() as scope:
        adj = scope.checkpoint(
            symmetric(undirected_simple(edges, src, dst)).repartition(n_part, "u")
        )
        deg = adj.groupBy("u").agg(F.count(F.lit(1)).alias("deg"))
        # Personalized reset: uniform over the seeds that exist in the graph.
        # List seeds -> tiny broadcast in-list; DataFrame seeds -> hash join
        # (AQE broadcasts when small). Unseeded, every vertex is a seed.
        if seeds is None:
            deg = deg.withColumn("__s", F.lit(1))
        elif isinstance(seeds, DataFrame):
            sdf = (
                seeds.select(F.col(seeds.columns[0]).alias("u"))
                .distinct()
                .withColumn("__s", F.lit(1))
            )
            deg = deg.join(sdf, "u", "left").withColumn("__s", F.coalesce("__s", F.lit(0)))
        else:
            seed_set = sorted(set(seeds))
            is_seed = F.col("u").isin(seed_set) if seed_set else F.lit(False)
            deg = deg.withColumn("__s", is_seed.cast("int"))
        # The degree table is read every round: pin it once, with N and the
        # seed count (literals of the update) observed by its checkpoint job.
        pinned, m = scope.observed(deg, n=F.count(F.lit(1)), n_seed=F.sum("__s"))
        if m["n_seed"] == 0:
            return local_frame(spark, [], ["vertex", "rank"], _SCHEMA)
        if seeds is None:
            base_col = F.lit((1.0 - damping) / m["n"])
            init_col = F.lit(1.0 / m["n"])
        else:
            base_col = F.col("__s") * F.lit((1.0 - damping) / m["n_seed"])
            init_col = F.col("__s") * F.lit(1.0 / m["n_seed"])
        deg = pinned.select("u", "deg", base_col.alias("__base"))
        ranks = scope.checkpoint(pinned.select("u", "deg", init_col.alias("rank")))
        for _ in range(iters):
            contrib = (
                adj.join(ranks, "u")
                .select(F.col("v"), (F.col("rank") / F.col("deg")).alias("c"))
                .groupBy("v")
                .agg(F.sum("c").alias("in_sum"))
            )
            new_ranks = scope.checkpoint(
                deg.join(contrib, deg["u"] == contrib["v"], "left")
                .select(
                    "u",
                    "deg",
                    (
                        F.col("__base") + F.lit(damping) * F.coalesce("in_sum", F.lit(0.0))
                    ).alias("rank"),
                )
            )
            scope.drop(ranks)
            ranks = new_ranks
        return scope.result(ranks.select(F.col("u").alias("vertex"), "rank"), ranks)
