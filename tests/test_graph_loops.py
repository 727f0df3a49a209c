"""The distributed graph loops' round discipline, on one fixed graph: each
loop stays within its Spark job budget (a round is its checkpoint jobs and
no separate convergence action), and the BFS loops release every
checkpoint they took except the one their result reads; a distributed
CC result's ``release`` frees the checkpoint it reads."""

import warnings

import pytest
from pyspark.sql import functions as F

from graphrag_litex_spark.operators import cc, iterutils
from graphrag_litex_spark.operators import communities as C
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
    ck = getattr(df, "_graft_ckpt", None)
    return set() if ck is None else {ck._jdf.queryExecution().analyzed().rdd().id()}


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
def test_bfs_loops_release_every_checkpoint(spark, graph, monkeypatch, name, call):
    """Every checkpoint a BFS loop takes has its blocks freed, except the
    one its result reads (shortest_path's driver-built row and the
    early-exit result read none): after the call, no other checkpointed
    RDD is still in the SparkContext's persistent RDDs."""
    taken = []  # held, so no checkpoint is garbage-collected mid-test
    checkpoint = iterutils.hard_checkpoint

    def tracked_checkpoint(df):
        out = checkpoint(df)
        taken.append(out)
        return out

    for mod in (iterutils, G):
        monkeypatch.setattr(mod, "hard_checkpoint", tracked_checkpoint)
    result = call(graph[0])
    result.collect()
    pinned = set(spark.sparkContext._jsc.getPersistentRDDs())
    kept = set().union(*map(_ckpt_rdds, taken)) & pinned
    assert len(taken) > 1
    assert kept == _ckpt_rdds(result)
    if name == "shortest_path":
        assert result.first()["path_str"] == " -> ".join(f"v{i:02d}" for i in range(10))
    elif name.startswith("shortest_path"):
        assert result.first()["found"] is False


def test_cc_release_frees_every_checkpoint(spark):
    """Distributed CC on the 13-vertex chain: after the call and a
    collect, only the checkpoint its result reads is still pinned, and
    ``release(result)`` frees it."""
    chain = [p for p in _PAIRS if p[0].startswith("v")]
    edges = local_frame(spark, chain, ["src", "dst"], "src string, dst string")
    verts = local_frame(
        spark, [(f"v{i:02d}",) for i in range(13)], ["norm_name"], "norm_name string"
    )
    before = set(spark.sparkContext._jsc.getPersistentRDDs())
    result = cc.connected_components(verts, edges, driver_threshold=0)
    assert {r["label"] for r in result.collect()} == {"v00"}
    pinned = set(spark.sparkContext._jsc.getPersistentRDDs()) - before
    assert pinned and pinned == _ckpt_rdds(result)
    iterutils.release(result)
    assert not set(spark.sparkContext._jsc.getPersistentRDDs()) & pinned
