"""The distributed graph loops' round discipline, on one fixed graph: each
loop stays within its Spark job budget (a round is its checkpoint jobs and
no separate convergence action), and each loop's checkpoint scope frees
every checkpoint it took except the ones its result reads, which
``release(result)`` frees — on return and on a ``max_iters`` error."""

import warnings

import pytest
from pyspark.sql import functions as F

from graphrag_litex_spark.operators import cc, iterutils
from graphrag_litex_spark.operators import communities as C
from graphrag_litex_spark.operators import dedup as D
from graphrag_litex_spark.operators import graph_analytics as G
from graphrag_litex_spark.operators import graph_ml as M
from graphrag_litex_spark.operators import pagerank as P
from graphrag_litex_spark.operators.iterutils import local_frame


def _clique(p):
    return [(f"{p}{i}", f"{p}{j}") for i in range(5) for j in range(i + 1, 5)]


# A 12-hop chain (v00..v12), two 5-cliques joined by two bridges, one
# self-loop, and an isolated vertex (z_iso, in the vertex set only).
_PAIRS = (
    [(f"v{i:02d}", f"v{i + 1:02d}") for i in range(12)]
    + _clique("a")
    + _clique("b")
    + [("a4", "b0"), ("b1", "a4"), ("a0", "a0")]
)
_IDS = sorted({x for p in _PAIRS for x in p} | {"z_iso"})


@pytest.fixture(scope="module")
def graph(spark):
    edges = local_frame(spark, _PAIRS, ["src", "dst"], "src string, dst string")
    nodes = local_frame(
        spark,
        [(i, i.upper()) for i in _IDS],
        ["entity_id", "name"],
        "entity_id string, name string",
    )
    return edges, nodes


def _loops(edges, nodes):
    verts = nodes.select(F.col("entity_id").alias("norm_name"))
    return {
        "cc": lambda: cc.connected_components(verts, edges, driver_threshold=0),
        "label_propagation": lambda: C.label_propagation(
            nodes.select("entity_id"),
            edges.select(F.col("src").alias("u"), F.col("dst").alias("v")),
            driver_threshold=0,
        ),
        "detect_communities": lambda: C.detect_communities(
            nodes,
            edges.select(F.col("src").alias("src_id"), F.col("dst").alias("dst_id")),
            levels=2,
            min_size=2,
            driver_threshold=0,
        ),
        "k_core": lambda: G.k_core(edges, 3),
        "k_truss": lambda: G.k_truss(edges, 4, driver_threshold=0),
        "neighborhood_function": lambda: G.neighborhood_function(edges, driver_threshold=0),
        "hop_distances": lambda: G.hop_distances(edges, ["v00", "a0"], driver_threshold=0),
        "shortest_path": lambda: G.shortest_path(edges, "v00", "v12"),
        "betweenness_approx": lambda: G.betweenness_approx(
            edges, sources=["v00", "a0", "b3"]
        ),
        "pagerank": lambda: P.pagerank(edges, driver_threshold=0),
        "pagerank_seeded": lambda: P.pagerank(
            edges, seeds=["a0", "v05"], driver_threshold=0
        ),
        "random_walks": lambda: M.random_walks(edges, length=6, driver_threshold=0),
        "node2vec_walks": lambda: M.node2vec_walks(edges, length=6, driver_threshold=0),
    }


# Job budget per loop (the loop plus one collect of its result) on
# local[8]: the most jobs seen over repeated runs, plus one. AQE submits
# concurrent query stages, and which of them a re-optimization still finds
# unsubmitted varies from run to run, so a join-heavy loop's count moves
# by one to three (k_truss 29-31, detect_communities 161-162,
# random_walks 12-15, node2vec_walks 16-19).
_LOOP_JOBS = {
    "cc": 64,
    "label_propagation": 69,
    "detect_communities": 163,
    "k_core": 15,
    "k_truss": 32,
    "neighborhood_function": 25,
    "hop_distances": 48,
    "shortest_path": 77,
    "betweenness_approx": 114,
    "pagerank": 78,
    "pagerank_seeded": 78,
    "random_walks": 16,
    "node2vec_walks": 20,
}


@pytest.mark.parametrize("loop", sorted(_LOOP_JOBS))
def test_graph_loop_job_budget(spark, graph, loop):
    """Job-budget guard per distributed loop (``driver_threshold=0``),
    counted from the DAGScheduler's job id around the call and a collect,
    in the idiom of ``test_pipeline_e2e.test_build_job_budget``.
    Each round's convergence test and the loop's state sizing are
    observed by the round's checkpoint job, so they add no job.

    Jobs before the observed checkpoint (a ``limit(1).count()``,
    ``cache()`` + ``agg().first()`` or a separate aggregate per round, and
    ``count()`` jobs to size the state): cc 81, label_propagation 86,
    detect_communities 198, k_core 16, k_truss 36, neighborhood_function
    34, hop_distances 64, shortest_path 128, betweenness_approx 137,
    pagerank 80, pagerank_seeded 83.

    BFS loops before their level list (a second checkpoint of the settled
    set ∪ the new level every hop): hop_distances 52, shortest_path 86,
    betweenness_approx 121. Walkers before they read the checkpointed
    undirected builder (the walk state seeded from the lazy edge list):
    random_walks 14-15. The min-label CC loop, which the star loop
    replaced as the one distributed CC, ran 100 (130 before its observed
    checkpoint); the star loop runs 63."""
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    run = _loops(*graph)[loop]
    j0 = dag.nextJobId()
    with warnings.catch_warnings():
        warnings.simplefilter("ignore", RuntimeWarning)
        run().collect()
    assert dag.nextJobId() - j0 <= _LOOP_JOBS[loop]


def _ckpt_rdds(df):
    """The ids of the checkpointed RDDs a releasable result reads."""
    return {
        ck._jdf.queryExecution().analyzed().rdd().id()
        for ck in getattr(df, "_graft_ckpt", ())
    }


def _pinned(spark):
    return set(spark.sparkContext._jsc.getPersistentRDDs())


def _assert_lifetime(spark, call, reads_checkpoints):
    """Every checkpoint ``call`` takes is freed except the ones its result
    reads: after ``call().collect()`` the only new persistent RDDs are the
    result's ``_graft_ckpt`` handles (none for a result built on the
    driver), and ``release(result)`` frees them."""
    before = _pinned(spark)
    with warnings.catch_warnings():
        warnings.simplefilter("ignore", RuntimeWarning)
        result = call()
        result.collect()
    pinned = _pinned(spark) - before
    assert pinned == _ckpt_rdds(result)
    assert bool(pinned) == reads_checkpoints
    iterutils.release(result)
    assert not _pinned(spark) & pinned


_TEXTS = [
    "the quick brown fox jumps over the lazy dog near the river bank",
    "spark dataframes run hash joins and shuffle exchanges in every round",
]


@pytest.mark.parametrize("name", sorted(_LOOP_JOBS) + ["keeper_map"])
def test_checkpoint_lifetime(spark, graph, name):
    """Checkpoint lifetime of every loop of ``_loops``, and of the dedup
    keeper map over distributed CC (its pairs' MinHash checkpoint freed,
    CC's labels handed to the result)."""
    docs = local_frame(
        spark,
        [(i, f"{_TEXTS[i % 2]} {'z' * (i % 3 + 1)}") for i in range(12)],
        ["doc_id", "text"],
        "doc_id long, text string",
    )
    calls = {
        **_loops(*graph),
        "keeper_map": lambda: D.duplicate_keeper_map(
            docs, jaccard_threshold=0.5, cc_driver_threshold=0
        ),
    }
    # HyperANF and shortest_path build their results on the driver.
    _assert_lifetime(
        spark, calls[name], name not in ("neighborhood_function", "shortest_path")
    )


@pytest.mark.parametrize(
    "name, call",
    [
        ("hop_distances", lambda e: G.hop_distances(e, ["v00", "a0"], driver_threshold=0)),
        ("betweenness_approx", lambda e: G.betweenness_approx(e, sources=["v00", "a0"])),
        # A source outside the graph: the BFS stops at hop 0 (max_d == 0).
        ("betweenness_approx_no_reach", lambda e: G.betweenness_approx(e, sources=["zz"])),
        ("shortest_path", lambda e: G.shortest_path(e, "v00", "v09")),
        # Another component: the BFS runs until its frontier empties.
        ("shortest_path_unreachable", lambda e: G.shortest_path(e, "v00", "a0")),
        ("shortest_path_absent_source", lambda e: G.shortest_path(e, "zz", "a0")),
    ],
)
def test_bfs_loops_release_every_checkpoint(spark, graph, name, call):
    """The same lifetime check over the BFS loops' early exits; the empty
    early-exit results and shortest_path's driver-built row read none."""
    _assert_lifetime(
        spark, lambda: call(graph[0]), name in ("hop_distances", "betweenness_approx")
    )


@pytest.mark.parametrize(
    "call",
    [
        lambda e: G.k_core(e, 3, max_iters=1),
        lambda e: G.k_truss(e, 4, max_iters=1, driver_threshold=0),
    ],
    ids=["k_core", "k_truss"],
)
def test_max_iters_error_frees_every_checkpoint(spark, graph, call):
    """A peel that has not converged at ``max_iters`` raises, and leaves no
    checkpoint pinned: the chain and the bridges peel in round 1, so the
    fixpoint needs a second round."""
    before = _pinned(spark)
    with pytest.raises(RuntimeError, match="did not converge in 1 rounds"):
        call(graph[0])
    assert not _pinned(spark) - before
