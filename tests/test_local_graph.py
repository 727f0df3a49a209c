"""The shared small-graph regime (operators/iterutils.py): the
``local_graph`` probe's rule, string-id guard and local dedup; every graph
valve's small-graph call submitting only its probe; and production code
never importing an oracle."""

import ast
import pathlib

import pytest
from pyspark.sql import functions as F

from graphrag_litex_spark.operators.iterutils import LocalGraph, local_graph

PKG = pathlib.Path(__file__).resolve().parent.parent / "graphrag_litex_spark"


def _edges(spark, pairs, typ="string"):
    return spark.createDataFrame(pairs, f"src {typ}, dst {typ}")


def _verts(spark, ids, typ="string"):
    return spark.createDataFrame([(i,) for i in ids], f"id {typ}")


def test_local_dedup_pairs_and_adjacency(spark):
    e = _edges(spark, [("b", "a"), ("a", "b"), ("c", "c"), ("c", "b"), ("a", "d")])
    v = _verts(spark, ["z", "a", "z", "c"])
    g = local_graph(e, "src", "dst", 100, vertices=v, id_col="id")
    assert g == LocalGraph(
        vertices=["a", "c", "z"],
        pairs=[("a", "b"), ("a", "d"), ("b", "c")],
        adj={"a": ["b", "d"], "b": ["a", "c"], "c": ["b"], "d": ["a"]},
    )
    assert list(g.adj) == sorted(g.adj)
    assert local_graph(e, "src", "dst", 100).vertices is None


def test_regime_rule_boundaries(spark):
    """2 x raw edge rows + |vertices| (or 2 x raw edge rows again when no
    vertices are passed) must fit under the threshold; raw rows count
    before dedup, and a threshold <= 0 never goes local."""
    e = _edges(spark, [("a", "b"), ("b", "a"), ("a", "b")])  # 3 raw rows
    assert local_graph(e, "src", "dst", 12) is not None
    assert local_graph(e, "src", "dst", 11) is None
    v = _verts(spark, ["a", "b", "c", "d"])
    assert local_graph(e, "src", "dst", 10, vertices=v) is not None
    assert local_graph(e, "src", "dst", 9, vertices=v) is None
    assert local_graph(e, "src", "dst", 5, vertices=v) is None  # edges alone
    empty = _edges(spark, [])
    assert local_graph(empty, "src", "dst", 1) == LocalGraph(None, [], {})
    assert local_graph(empty, "src", "dst", 0) is None
    assert local_graph(e, "src", "dst", -1) is None


def test_string_id_guard(spark):
    """Int ids or one NULL id, in the edges or in the vertices, send the
    caller to its distributed loop (the connected_components cases live in
    tests/test_cc.py::test_non_string_ids_fall_through_to_distributed_path)."""
    ok_e, ok_v = _edges(spark, [("a", "b")]), _verts(spark, ["a", "b"])
    assert local_graph(ok_e, "src", "dst", 100, vertices=ok_v) is not None
    for e in (_edges(spark, [(1, 2)], "long"), _edges(spark, [("a", None)])):
        assert local_graph(e, "src", "dst", 100) is None
        assert local_graph(e, "src", "dst", 100, vertices=ok_v) is None
    for v in (_verts(spark, [1, 2], "long"), _verts(spark, ["a", None])):
        assert local_graph(ok_e, "src", "dst", 100, vertices=v) is None


# ---- job budget of every valve's small-graph call --------------------------


@pytest.fixture(scope="module")
def small_graph(spark, tmp_path_factory):
    """Ring of five 5-cliques as one-file parquet tables (the shape of a
    pipeline stage read-back), so each raw-row probe is one job."""
    pairs, ids = [], []
    for c in range(5):
        grp = [f"c{c}n{i}" for i in range(5)]
        ids += grp
        pairs += [(x, y) for i, x in enumerate(grp) for y in grp[i + 1 :]]
        pairs.append((f"c{c}n0", f"c{(c + 1) % 5}n0"))
    root = tmp_path_factory.mktemp("small_graph")
    _edges(spark, pairs).coalesce(1).write.parquet(str(root / "edges"))
    _verts(spark, ids).coalesce(1).write.parquet(str(root / "nodes"))
    edges = spark.read.parquet(str(root / "edges"))
    nodes = spark.read.parquet(str(root / "nodes")).select(
        F.col("id").alias("entity_id"), F.col("id").alias("name")
    )
    return nodes, edges


def _valves():
    from graphrag_litex_spark.operators import communities, graph_analytics, graph_ml
    from graphrag_litex_spark.operators.cc import connected_components
    from graphrag_litex_spark.operators.pagerank import pagerank

    def comm_edges(e):
        return e.select(F.col("src").alias("src_id"), F.col("dst").alias("dst_id"))

    return {
        "pagerank": (1, lambda n, e: pagerank(e)),
        "k_truss": (1, lambda n, e: graph_analytics.k_truss(e, 4)),
        "hop_distances": (1, lambda n, e: graph_analytics.hop_distances(e, ["c0n0"])),
        "neighborhood_function": (1, lambda n, e: graph_analytics.neighborhood_function(e)),
        "random_walks": (1, lambda n, e: graph_ml.random_walks(e)),
        "node2vec_walks": (1, lambda n, e: graph_ml.node2vec_walks(e)),
        "connected_components": (
            2,
            lambda n, e: connected_components(
                n.select(F.col("entity_id").alias("norm_name")), e
            ),
        ),
        "detect_communities": (
            2,
            lambda n, e: communities.detect_communities(n, comm_edges(e)),
        ),
    }


@pytest.mark.parametrize("name", sorted(_valves()))
def test_small_graph_valve_submits_only_its_probe(spark, small_graph, name):
    """Below its threshold each valve's call runs its raw-row probe (the
    edges, plus the vertices for cc and communities) and nothing else: no
    checkpoint, no count. The job ids come from the DAGScheduler's counter."""
    budget, call = _valves()[name]
    nodes, edges = small_graph
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    j0 = dag.nextJobId()
    out = call(nodes, edges)
    jobs = dag.nextJobId() - j0
    assert jobs <= budget, jobs
    assert out.count() > 0


# ---- production code never imports an oracle -------------------------------


def test_production_modules_import_no_oracle():
    bad = []
    for sub in ("operators", "plans", "querying", "sinks", "sources", "streaming"):
        for path in sorted((PKG / sub).rglob("*.py")):
            for node in ast.walk(ast.parse(path.read_text(), str(path))):
                if isinstance(node, ast.Import):
                    names = [a.name for a in node.names]
                elif isinstance(node, ast.ImportFrom):
                    names = [node.module or ""] + [a.name for a in node.names]
                else:
                    continue
                if any(p.startswith("oracle") for n in names for p in n.split(".")):
                    bad.append(f"{path.relative_to(PKG)}:{node.lineno}")
    assert not bad, bad
