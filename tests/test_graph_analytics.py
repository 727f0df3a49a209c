"""Graph analytics units: hand-computed triangles / clustering / link
prediction / k-core on small fixtures, cross-checked where cheap against a
brute-force pure-Python computation on a random graph."""

import itertools
import random

import pandas as pd
import pytest
from pyspark.sql import functions as F

from graphrag_litex_spark.operators.graph_analytics import (
    k_core,
    link_prediction,
    triangle_counts,
    undirected_simple,
)


def _edges_df(spark, pairs):
    return spark.createDataFrame(pd.DataFrame(pairs, columns=["src", "dst"]))


# K4 plus a pendant: every K4 vertex is in C(3,2)=3 triangles; the pendant
# in none. Clustering: K4 vertices adjacent to the pendant have degree 4.
K4_PLUS = [
    ("a", "b"), ("a", "c"), ("a", "d"),
    ("b", "c"), ("b", "d"), ("c", "d"),
    ("a", "p"),
]


def test_triangles_k4_plus_pendant(spark):
    rows = {r["vertex"]: r for r in triangle_counts(_edges_df(spark, K4_PLUS)).collect()}
    assert rows["a"]["n_triangles"] == 3 and rows["a"]["degree"] == 4
    for v in "bcd":
        assert rows[v]["n_triangles"] == 3 and rows[v]["degree"] == 3
        assert rows[v]["clustering"] == 1.0
    assert rows["p"]["n_triangles"] == 0 and rows["p"]["clustering"] == 0.0
    # a: 3 triangles among deg-4 neighborhood -> 2*3/(4*3) = 0.5
    assert rows["a"]["clustering"] == 0.5


def test_triangles_ignore_direction_dupes_loops(spark):
    # Same triangle asserted with reversed dupes + a self loop.
    e = [("a", "b"), ("b", "a"), ("b", "c"), ("c", "a"), ("a", "a")]
    rows = {r["vertex"]: r["n_triangles"] for r in triangle_counts(_edges_df(spark, e)).collect()}
    assert rows == {"a": 1, "b": 1, "c": 1}


def _py_triangles(pairs):
    und = {tuple(sorted(p)) for p in pairs if p[0] != p[1]}
    adj = {}
    for a, b in und:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    t = dict.fromkeys(adj, 0)
    for u, v, w in itertools.combinations(sorted(adj), 3):
        if v in adj[u] and w in adj[u] and w in adj[v]:
            t[u] += 1
            t[v] += 1
            t[w] += 1
    return t, adj


def test_triangles_random_graph_vs_bruteforce(spark):
    rng = random.Random(7)
    verts = [f"v{i}" for i in range(30)]
    pairs = [(rng.choice(verts), rng.choice(verts)) for _ in range(120)]
    want, adj = _py_triangles(pairs)
    got = {r["vertex"]: r["n_triangles"] for r in triangle_counts(_edges_df(spark, pairs)).collect()}
    assert got == want
    assert set(got) == set(adj)


def test_link_prediction_square(spark):
    # Square a-b-c-d-a: the two diagonals (a,c) and (b,d) each share 2
    # neighbors; jaccard = 2/(2+2-2) = 1.0. No other non-edges exist.
    e = [("a", "b"), ("b", "c"), ("c", "d"), ("d", "a")]
    rows = {(r["a"], r["b"]): r for r in link_prediction(_edges_df(spark, e)).collect()}
    assert set(rows) == {("a", "c"), ("b", "d")}
    assert rows[("a", "c")]["common"] == 2
    assert rows[("a", "c")]["jaccard"] == 1.0


def test_link_prediction_excludes_existing_edges(spark):
    # Triangle: every pair is already an edge -> no predictions.
    e = [("a", "b"), ("b", "c"), ("c", "a")]
    assert link_prediction(_edges_df(spark, e)).count() == 0


def test_link_prediction_center_degree_valve(spark):
    # Star center h connects x,y; valve below h's degree drops the only
    # wedge center, so no candidates survive.
    e = [("h", "x"), ("h", "y")]
    assert link_prediction(_edges_df(spark, e)).count() == 1
    assert link_prediction(_edges_df(spark, e), max_center_degree=1).count() == 0


def _py_kcore(pairs, k):
    und = {tuple(sorted(p)) for p in pairs if p[0] != p[1]}
    adj = {}
    for a, b in und:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    changed = True
    while changed:
        changed = False
        for v in list(adj):
            if len(adj[v]) < k:
                for n in adj.pop(v):
                    adj[n].discard(v)
                changed = True
    return {v: len(ns) for v, ns in adj.items()}


def test_kcore_peels_tail_chain(spark):
    # Triangle with a tail a-x-y: 2-core = the triangle (peeling y exposes
    # x, peeling x exposes nothing more).
    e = [("a", "b"), ("b", "c"), ("c", "a"), ("a", "x"), ("x", "y")]
    rows = {r["vertex"]: r["core_degree"] for r in k_core(_edges_df(spark, e), 2).collect()}
    assert rows == {"a": 2, "b": 2, "c": 2}


def test_kcore_empty_when_k_too_high(spark):
    e = [("a", "b"), ("b", "c")]
    out = k_core(_edges_df(spark, e), 3)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == ["vertex", "core_degree"]


def test_kcore_random_graph_vs_bruteforce(spark):
    rng = random.Random(11)
    verts = [f"v{i}" for i in range(40)]
    pairs = [(rng.choice(verts), rng.choice(verts)) for _ in range(100)]
    for k in (2, 3):
        want = _py_kcore(pairs, k)
        got = {r["vertex"]: r["core_degree"] for r in k_core(_edges_df(spark, pairs), k).collect()}
        assert got == want


def test_undirected_simple_dedupes(spark):
    e = [("b", "a"), ("a", "b"), ("a", "a")]
    assert [tuple(r) for r in undirected_simple(_edges_df(spark, e)).collect()] == [("a", "b")]


# ---- BFS hop distances + harmonic closeness --------------------------------


def test_hop_distances_path_graph(spark):
    """Hand-computed: path a-b-c-d-e, sources {a, d}."""
    from graphrag_litex_spark.operators.graph_analytics import hop_distances

    e = _edges_df(spark, [("a", "b"), ("b", "c"), ("c", "d"), ("d", "e")])
    got = {
        (r["vertex"], r["source"]): r["dist"]
        for r in hop_distances(e, ["a", "d"], max_hops=6).collect()
    }
    assert got == {
        ("a", "a"): 0, ("b", "a"): 1, ("c", "a"): 2, ("d", "a"): 3, ("e", "a"): 4,
        ("d", "d"): 0, ("c", "d"): 1, ("e", "d"): 1, ("b", "d"): 2, ("a", "d"): 3,
    }


def test_hop_distances_max_hops_cutoff(spark):
    from graphrag_litex_spark.operators.graph_analytics import hop_distances

    e = _edges_df(spark, [("a", "b"), ("b", "c"), ("c", "d")])
    got = {r["vertex"] for r in hop_distances(e, ["a"], max_hops=2).collect()}
    assert got == {"a", "b", "c"}  # d is 3 hops out


def test_harmonic_closeness_hand_computed(spark):
    """Star graph center x with leaves p,q,r: with all 4 vertices as pivots,
    center: 3 pivots at dist 1 -> harmonic60 = 180, closeness = 180/240;
    each leaf: dist 1 to center + dist 2 to two leaves -> 60 + 30 + 30 = 120."""
    from graphrag_litex_spark.operators.graph_analytics import harmonic_closeness

    e = _edges_df(spark, [("x", "p"), ("x", "q"), ("x", "r")])
    got = {r["name"]: (r["n_reached"], r["harmonic60"], r["closeness"])
           for r in harmonic_closeness(e, n_sources=4).collect()}
    assert got["x"] == (3, 180, 0.75)
    for leaf in "pqr":
        assert got[leaf] == (3, 120, 0.5)


def test_harmonic_closeness_matches_golden(spark):
    """Differential: the distributed frontier loop == the pure-Python BFS
    golden on a random graph (pivot sampling reproduced via XXH64)."""
    from graphrag_litex_spark.operators.graph_analytics import harmonic_closeness
    from graphrag_litex_spark.oracle_graph import harmonic_closeness_golden

    rng = random.Random(13)
    verts = [f"v{i}" for i in range(40)]
    pairs = sorted({tuple(sorted(rng.sample(verts, 2))) for _ in range(70)})
    got = {
        r["name"]: (r["n_reached"], r["harmonic60"], r["closeness"])
        for r in harmonic_closeness(_edges_df(spark, pairs), n_sources=6).collect()
    }
    want = harmonic_closeness_golden(set(pairs), n_sources=6)
    assert got == want


def test_harmonic_closeness_empty_graph(spark):
    from graphrag_litex_spark.operators.graph_analytics import harmonic_closeness

    e = spark.createDataFrame([], "src string, dst string")
    assert harmonic_closeness(e).count() == 0


def test_betweenness_path_and_star_hand_computed(spark):
    """Brandes over ALL sources on a path / star: the per-source dependency
    sum equals exactly 2x the classic unnormalized pair betweenness."""
    import pandas as pd

    from graphrag_litex_spark.operators.graph_analytics import betweenness_approx

    path = spark.createDataFrame(
        pd.DataFrame([("a", "b"), ("b", "c"), ("c", "d"), ("d", "e")], columns=["src", "dst"])
    )
    got = {
        r["name"]: r["betweenness"]
        for r in betweenness_approx(path, sources=list("abcde")).collect()
    }
    assert got == {"a": 0.0, "b": 6.0, "c": 8.0, "d": 6.0, "e": 0.0}

    star = spark.createDataFrame(
        pd.DataFrame([("hub", f"l{i}") for i in range(4)], columns=["src", "dst"])
    )
    sources = ["hub"] + [f"l{i}" for i in range(4)]
    got = {
        r["name"]: r["betweenness"]
        for r in betweenness_approx(star, sources=sources).collect()
    }
    assert got["hub"] == 12.0  # 2 * C(4,2) pairs routed through the hub
    assert all(got[f"l{i}"] == 0.0 for i in range(4))


def test_betweenness_matches_pure_python_golden(spark):
    """Random-graph differential: distributed forward/backward passes equal
    the sequential Brandes replica — both with explicit sources and with
    the shared deterministic pivot sampling."""
    import random

    import pandas as pd

    from graphrag_litex_spark.operators.graph_analytics import betweenness_approx
    from graphrag_litex_spark.oracle_graph import betweenness_golden

    rng = random.Random(41)
    verts = [f"v{i:02d}" for i in range(30)]
    und = set()
    for _ in range(55):
        a, b = rng.sample(verts, 2)
        und.add((a, b) if a < b else (b, a))
    edf = spark.createDataFrame(pd.DataFrame(sorted(und), columns=["src", "dst"]))

    for kwargs in ({"sources": verts[:6]}, {"n_sources": 8}):
        got = {
            r["name"]: r["betweenness"]
            for r in betweenness_approx(edf, max_hops=8, **kwargs).collect()
        }
        want = betweenness_golden(und, max_hops=8, **kwargs)
        assert got == want


def test_betweenness_truncation_and_empty(spark):
    """max_hops truncates the DAG identically in both implementations; an
    empty edge set yields a typed empty frame."""
    import pandas as pd

    from graphrag_litex_spark.operators.graph_analytics import betweenness_approx
    from graphrag_litex_spark.oracle_graph import betweenness_golden

    chain = [(f"c{i}", f"c{i+1}") for i in range(9)]
    edf = spark.createDataFrame(pd.DataFrame(chain, columns=["src", "dst"]))
    got = {
        r["name"]: r["betweenness"]
        for r in betweenness_approx(edf, sources=["c0"], max_hops=3).collect()
    }
    want = betweenness_golden(set(chain), sources=["c0"], max_hops=3)
    assert got == want
    empty = spark.createDataFrame([], "src string, dst string")
    out = betweenness_approx(empty, n_sources=4)
    assert out.columns == ["name", "betweenness"] and out.count() == 0


def test_degree_assortativity_hand_computed(spark):
    import math

    from graphrag_litex_spark.operators.graph_analytics import (
        degree_assortativity,
        degree_assortativity_components,
    )

    # path a-b-c: stubs (1,2)x2 and (2,1)x2 -> perfectly disassortative
    path = spark.createDataFrame([("a", "b"), ("b", "c")], "src string, dst string")
    row = degree_assortativity_components(path).first()
    assert (row["m2"], row["s_xy"], row["s_x"], row["s_x2"]) == (4, 8, 6, 10)
    assert degree_assortativity(path) == -1.0

    # star K1,3: hubs only ever pair with leaves -> -1 as well
    star = spark.createDataFrame(
        [("h", "a"), ("h", "b"), ("h", "c")], "src string, dst string"
    )
    assert degree_assortativity(star) == -1.0

    # regular graph (triangle): zero degree variance -> nan
    tri = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a")], "src string, dst string"
    )
    assert math.isnan(degree_assortativity(tri))
    # empty graph -> nan, typed empty components row
    empty = spark.createDataFrame([], "src string, dst string")
    assert math.isnan(degree_assortativity(empty))


def test_degree_assortativity_matches_pure_python(spark):
    from graphrag_litex_spark.operators.graph_analytics import degree_assortativity

    edges = [("a", "b"), ("b", "c"), ("c", "d"), ("d", "a"), ("b", "d"), ("a", "e")]
    adj: dict[str, set] = {}
    for s, d in edges:
        adj.setdefault(s, set()).add(d)
        adj.setdefault(d, set()).add(s)
    stubs = [
        (len(adj[u]), len(adj[v])) for u in adj for v in adj[u]
    ]
    m2 = len(stubs)
    sx = sum(x for x, _ in stubs)
    sxy = sum(x * y for x, y in stubs)
    sx2 = sum(x * x for x, _ in stubs)
    mean = sx / m2
    var = sx2 / m2 - mean * mean
    want = (sxy / m2 - mean * mean) / var
    df = spark.createDataFrame(edges, "src string, dst string")
    assert abs(degree_assortativity(df) - want) < 1e-12


# ---- resource-allocation index (exact integer micro-units) ----


def test_link_prediction_ra_micro_square_and_star(spark):
    # Square: diagonal (a,c) shares centers b and d, both degree 2 ->
    # ra_micro = 2 * (10^6 div 2) = 1_000_000.
    e = [("a", "b"), ("b", "c"), ("c", "d"), ("d", "a")]
    rows = {(r["a"], r["b"]): r for r in link_prediction(_edges_df(spark, e)).collect()}
    assert rows[("a", "c")]["ra_micro"] == 1_000_000
    assert rows[("b", "d")]["ra_micro"] == 1_000_000
    # Star with 3 leaves: every leaf pair shares only the degree-3 hub ->
    # ra_micro = 10^6 div 3 = 333_333 (explicit truncation, engine-exact).
    s = [("h", "x"), ("h", "y"), ("h", "z")]
    rows = {(r["a"], r["b"]): r for r in link_prediction(_edges_df(spark, s)).collect()}
    assert {p: r["ra_micro"] for p, r in rows.items()} == {
        ("x", "y"): 333_333, ("x", "z"): 333_333, ("y", "z"): 333_333,
    }


# ---- k-truss ----


def test_ktruss_k4_plus_pendant(spark):
    from graphrag_litex_spark.operators.graph_analytics import k_truss

    # 3-truss: every K4 edge closes 2 triangles inside K4; the pendant edge
    # closes none and peels. 4-truss: identical (support 2 >= 2).
    for k in (3, 4):
        rows = {(r["a"], r["b"]): r["support"] for r in k_truss(_edges_df(spark, K4_PLUS), k).collect()}
        assert rows == {
            ("a", "b"): 2, ("a", "c"): 2, ("a", "d"): 2,
            ("b", "c"): 2, ("b", "d"): 2, ("c", "d"): 2,
        }
    # 5-truss needs support >= 3: nothing in K4 qualifies.
    assert k_truss(_edges_df(spark, K4_PLUS), 5).count() == 0


def test_ktruss_peeling_cascades(spark):
    from graphrag_litex_spark.operators.graph_analytics import k_truss

    # Two triangles sharing edge (b,c): the shared edge has support 2, all
    # others 1. At k=4 round one peels the support-1 edges, which drops
    # (b,c)'s support to 0 — the SECOND round must peel it too (the
    # recount-after-removal semantics that separate truss from a one-shot
    # triangle filter).
    e = [("a", "b"), ("b", "c"), ("c", "a"), ("b", "d"), ("c", "d")]
    assert k_truss(_edges_df(spark, e), 4).count() == 0
    # k=3 keeps both triangles intact.
    assert k_truss(_edges_df(spark, e), 3).count() == 5


def test_ktruss_random_graph_vs_golden(spark):
    from graphrag_litex_spark.oracle_graph import k_truss_golden
    from graphrag_litex_spark.operators.graph_analytics import k_truss

    rng = random.Random(11)
    verts = [f"v{i}" for i in range(24)]
    pairs = [(rng.choice(verts), rng.choice(verts)) for _ in range(110)]
    und = {tuple(sorted(p)) for p in pairs if p[0] != p[1]}
    for k in (3, 4, 5):
        want = k_truss_golden(und, k)
        got = {
            (r["a"], r["b"]): r["support"]
            for r in k_truss(_edges_df(spark, pairs), k).collect()
        }
        assert got == want


def test_ktruss_self_loops_only_is_empty(spark):
    from graphrag_litex_spark.operators.graph_analytics import k_truss

    assert k_truss(_edges_df(spark, [("a", "a")]), 3).count() == 0


# ---- Weisfeiler-Lehman role signatures ----


def test_wl_path_graph_roles(spark):
    from graphrag_litex_spark.operators.graph_analytics import wl_signatures

    # Path a-b-c: the two ends are structurally identical, the middle is
    # not — at every refinement depth.
    e = [("a", "b"), ("b", "c")]
    for rounds in (0, 1, 2):
        lab = {r["vertex"]: r["wl_label"] for r in wl_signatures(_edges_df(spark, e), rounds).collect()}
        assert lab["a"] == lab["c"] != lab["b"]
    # rounds=0 is the raw degree label.
    lab0 = {r["vertex"]: r["wl_label"] for r in wl_signatures(_edges_df(spark, e), 0).collect()}
    assert lab0 == {"a": "1", "b": "2", "c": "1"}


def test_wl_matches_pure_python_golden(spark):
    from graphrag_litex_spark.oracle_graph import wl_golden
    from graphrag_litex_spark.operators.graph_analytics import wl_signatures

    rng = random.Random(13)
    verts = [f"v{i}" for i in range(20)]
    pairs = [(rng.choice(verts), rng.choice(verts)) for _ in range(60)]
    und = {tuple(sorted(p)) for p in pairs if p[0] != p[1]}
    want = wl_golden(und, rounds=3)
    got = {r["vertex"]: r["wl_label"] for r in wl_signatures(_edges_df(spark, pairs), 3).collect()}
    assert got == want


def test_wl_rename_invariant_fingerprint(spark):
    from graphrag_litex_spark.operators.graph_analytics import wl_signatures

    # Renaming vertices permutes labels but never changes the label
    # MULTISET — the property that makes the WL histogram a structural
    # (name-free) graph fingerprint.
    rng = random.Random(17)
    verts = [f"v{i}" for i in range(15)]
    pairs = [(rng.choice(verts), rng.choice(verts)) for _ in range(40)]
    ren = {v: f"w{(i * 7 + 3) % 15:02d}" for i, v in enumerate(verts)}
    renamed = [(ren[a], ren[b]) for a, b in pairs]

    def hist(ps):
        out = {}
        for r in wl_signatures(_edges_df(spark, ps), 2).collect():
            out[r["wl_label"]] = out.get(r["wl_label"], 0) + 1
        return out

    assert hist(pairs) == hist(renamed)


def test_wl_structure_fingerprint_rename_invariant_and_change_sensitive(spark):
    from graphrag_litex_spark.operators.graph_analytics import wl_structure_fingerprint

    rng = random.Random(19)
    verts = [f"v{i}" for i in range(12)]
    pairs = [(rng.choice(verts), rng.choice(verts)) for _ in range(30)]
    ren = {v: f"x{(i * 5 + 2) % 12:02d}" for i, v in enumerate(verts)}
    renamed = [(ren[a], ren[b]) for a, b in pairs]
    fp = wl_structure_fingerprint(_edges_df(spark, pairs))
    assert fp == wl_structure_fingerprint(_edges_df(spark, renamed))
    # Removing one edge changes degrees, hence roles, hence the fingerprint.
    und = sorted({tuple(sorted(p)) for p in pairs if p[0] != p[1]})
    assert wl_structure_fingerprint(_edges_df(spark, und[:-1])) != fp


# ---- HyperBall neighborhood function ----


def test_neighborhood_function_path_graph_exact(spark):
    from graphrag_litex_spark.operators.graph_analytics import neighborhood_function

    # Path a-b-c-d: N(0)=4 self-pairs; N(1)=4+2*3 edges; N(2)=+2 dist-2
    # pairs *2 directions; N(3)=+1 dist-3 pair *2. Small balls keep the
    # sketches in exact coupon mode, so the estimates are exact integers.
    e = [("a", "b"), ("b", "c"), ("c", "d")]
    rows = {r["t"]: r["reachable_pairs"] for r in
            neighborhood_function(_edges_df(spark, e), max_t=5).collect()}
    assert rows == {0: 4.0, 1: 10.0, 2: 14.0, 3: 16.0, 4: 16.0}
    # early exit: t=4 repeats t=3's total, t=5 never runs


def test_neighborhood_function_matches_exact_bfs(spark):
    from graphrag_litex_spark.oracle_graph import neighborhood_golden
    from graphrag_litex_spark.operators.graph_analytics import neighborhood_function

    rng = random.Random(23)
    verts = [f"v{i}" for i in range(25)]
    pairs = [(rng.choice(verts), rng.choice(verts)) for _ in range(50)]
    und = {tuple(sorted(p)) for p in pairs if p[0] != p[1]}
    want = neighborhood_golden(und, max_t=4)
    got = sorted(
        (r["t"], r["reachable_pairs"])
        for r in neighborhood_function(_edges_df(spark, pairs), max_t=4).collect()
    )
    assert got == want


def test_neighborhood_function_partitioning_invariant(spark):
    from graphrag_litex_spark.operators.graph_analytics import neighborhood_function

    rng = random.Random(29)
    verts = [f"v{i}" for i in range(18)]
    pairs = [(rng.choice(verts), rng.choice(verts)) for _ in range(40)]

    def run(nparts):
        df = _edges_df(spark, pairs).repartition(nparts)
        return sorted(
            (r["t"], r["reachable_pairs"])
            for r in neighborhood_function(df, max_t=3).collect()
        )

    assert run(1) == run(13)


# ---- canonical shortest path ----


def test_shortest_path_hand_computed(spark):
    from graphrag_litex_spark.operators.graph_analytics import shortest_path

    # Two equal-length routes a->b->d and a->c->d: the canonical backtrack
    # takes the min-name parent at d, i.e. b.
    e = [("a", "b"), ("a", "c"), ("b", "d"), ("c", "d")]
    row = shortest_path(_edges_df(spark, e), "a", "d").first()
    assert (row["found"], row["hops"], row["path_str"]) == (True, 2, "a -> b -> d")
    assert row["path"] == ["a", "b", "d"]
    # trivial and unreachable cases
    assert shortest_path(_edges_df(spark, e), "a", "a").first()["hops"] == 0
    e2 = e + [("x", "y")]
    row = shortest_path(_edges_df(spark, e2), "a", "y").first()
    assert (row["found"], row["hops"], row["path_str"]) == (False, -1, "")
    # absent endpoint
    assert shortest_path(_edges_df(spark, e), "zz", "a").first()["found"] is False


def test_shortest_path_max_hops_and_golden(spark):
    from graphrag_litex_spark.oracle_graph import shortest_path_golden
    from graphrag_litex_spark.operators.graph_analytics import shortest_path

    # Path graph of length 5: unreachable under max_hops=3.
    chain = [(f"n{i}", f"n{i+1}") for i in range(5)]
    assert (
        shortest_path(_edges_df(spark, chain), "n0", "n5", max_hops=3).first()["found"]
        is False
    )
    # Random-graph differential across several endpoint pairs.
    rng = random.Random(31)
    verts = [f"v{i}" for i in range(20)]
    pairs = [(rng.choice(verts), rng.choice(verts)) for _ in range(40)]
    und = {tuple(sorted(p)) for p in pairs if p[0] != p[1]}
    present = sorted({v for p in und for v in p})
    for s, t in [(present[0], present[-1]), (present[1], present[3]), (present[2], present[2])]:
        want = shortest_path_golden(und, s, t)
        row = shortest_path(_edges_df(spark, pairs), s, t).first()
        assert (row["found"], row["hops"], row["path_str"]) == want


def _rrf_golden(triples, chunks, anchor, rrf_k=60, cap=100, k=10):
    """Sequential replica of related_entities_rrf's spec: three anchored
    weight maps -> (w desc, name asc) rankings -> truncating-integer RRF."""
    from collections import Counter

    s1 = Counter()
    for s, _p, o in triples:
        if s != o and anchor in (s, o):
            s1[o if s == anchor else s] += 1
    und = {tuple(sorted((s, o))) for s, _p, o in triples if s != o}
    adj = {}
    for a, b in und:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    s2 = Counter()
    for n in adj.get(anchor, ()):
        for x in adj.get(n, ()):
            if x != anchor:
                s2[x] += 1
    s3 = Counter()
    by_chunk = {}
    for cid, name in chunks:
        by_chunk.setdefault(cid, set()).add(name)
    for names in by_chunk.values():
        if anchor in names:
            for x in names:
                if x != anchor:
                    s3[x] += 1
    fused = Counter()
    nsig = Counter()
    for sig in (s1, s2, s3):
        ranked = sorted(sig.items(), key=lambda kv: (-kv[1], kv[0]))
        for r, (name, _w) in enumerate(ranked[:cap], start=1):
            fused[name] += 1_000_000_000 // (rrf_k + r)
            nsig[name] += 1
    rows = sorted(fused.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
    return [(name, score, nsig[name]) for name, score in rows]


def test_related_entities_rrf_matches_golden(spark):
    from graphrag_litex_spark.operators.graph_analytics import related_entities_rrf

    triples = [
        ("hub", "uses", "a"),
        ("hub", "uses", "a"),  # repeat sighting: attestation weight 2
        ("a", "likes", "hub"),
        ("hub", "uses", "b"),
        ("a", "knows", "b"),
        ("c", "knows", "a"),
        ("c", "knows", "b"),
        ("d", "knows", "c"),  # d: related only transitively (no signal)
        ("hub", "self", "hub"),  # self-loop: ignored everywhere
    ]
    chunks = [
        ("ch1", "hub"), ("ch1", "a"),
        ("ch2", "hub"), ("ch2", "a"),
        ("ch3", "hub"), ("ch3", "c"),
        ("ch4", "b"), ("ch4", "c"),
    ]
    expected = _rrf_golden(triples, chunks, "hub")
    assert expected[0][0] == "a" and expected[0][2] == 3  # a leads, all signals

    tdf = spark.createDataFrame(pd.DataFrame(triples, columns=["subj", "pred", "obj"]))
    mdf = spark.createDataFrame(
        pd.DataFrame(chunks, columns=["chunk_id", "canonical"])
    )
    got = [
        (r["name"], r["score_nano"], r["n_signals"])
        for r in related_entities_rrf(tdf, mdf, "hub").collect()
    ]
    assert got == expected


def test_related_entities_rrf_absent_anchor(spark):
    from graphrag_litex_spark.operators.graph_analytics import related_entities_rrf

    tdf = spark.createDataFrame(
        pd.DataFrame([("a", "p", "b")], columns=["subj", "pred", "obj"])
    )
    mdf = spark.createDataFrame(
        pd.DataFrame([("ch1", "a")], columns=["chunk_id", "canonical"])
    )
    assert related_entities_rrf(tdf, mdf, "nobody").count() == 0


def test_sparsify_topk_hand_computed(spark):
    """Union-kNN: an edge survives iff in EITHER endpoint's top-k; leaves
    always keep their only edge; hub excess edges drop."""
    from graphrag_litex_spark.operators.graph_analytics import sparsify_topk

    # hub h with weighted edges to a(5) b(3) c(1); triangle a-b(4), a-c(2).
    rows = [
        ("h", "a", 5), ("h", "b", 3), ("h", "c", 1),
        ("a", "b", 4), ("a", "c", 2),
        ("x", "x", 9),  # self-loop: dropped
    ]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["src", "dst", "w"]))
    got = {
        (r["a"], r["b"]): (r["weight"], r["rank_a"], r["rank_b"])
        for r in sparsify_topk(df, k=1, weight_col="w").collect()
    }
    # adjacency ranks: h: a(1) b(2) c(3); a: h(1) b(2) c(3);
    #                  b: a(1) h(2); c: a(1) h(2)
    # k=1 union keeps (a,h) [both top-1], (a,b) [b's top-1], (a,c) [c's top-1]
    assert got == {
        ("a", "h"): (5, 1, 1),
        ("a", "b"): (4, 2, 1),
        ("a", "c"): (2, 3, 1),
    }
    # multiplicity path (no weight_col): parallel edges sum as counts
    rows2 = [("u", "v", 0), ("u", "v", 0), ("u", "w", 0)]
    df2 = spark.createDataFrame(pd.DataFrame(rows2, columns=["src", "dst", "w"]))
    got2 = {
        (r["a"], r["b"]): r["weight"]
        for r in sparsify_topk(df2, k=2).collect()
    }
    assert got2 == {("u", "v"): 2.0, ("u", "w"): 1.0}


# ---- driver-local valves: distributed (threshold 0) == driver-local ----


def _rand_graph(n=14, p=0.3, seed=11):
    rng = random.Random(seed)
    verts = [f"v{i}" for i in range(n)]
    return [
        (a, b)
        for a, b in itertools.combinations(verts, 2)
        if rng.random() < p
    ]


def test_k_truss_driver_local_matches_distributed(spark):
    from graphrag_litex_spark.operators.graph_analytics import k_truss

    pairs = _rand_graph()
    for k in (3, 4):
        local = {
            (r["a"], r["b"]): r["support"]
            for r in k_truss(_edges_df(spark, pairs), k).collect()
        }
        dist = {
            (r["a"], r["b"]): r["support"]
            for r in k_truss(_edges_df(spark, pairs), k, driver_threshold=0).collect()
        }
        assert local == dist


def test_hop_distances_driver_local_matches_distributed(spark):
    from graphrag_litex_spark.operators.graph_analytics import hop_distances

    pairs = _rand_graph(seed=5)
    e = _edges_df(spark, pairs)
    # duplicate source: both paths must emit the dist-0 row per occurrence
    srcs = ["v0", "v3", "v0", "zz_not_in_graph"]
    local = sorted(
        (r["vertex"], r["source"], r["dist"])
        for r in hop_distances(e, srcs, max_hops=3).collect()
    )
    dist = sorted(
        (r["vertex"], r["source"], r["dist"])
        for r in hop_distances(e, srcs, max_hops=3, driver_threshold=0).collect()
    )
    assert local == dist and local

    # int sources on a string-id graph compare as their strings on both
    # paths: 7 matches the vertex "7", 99 matches nothing.
    e = _edges_df(spark, [(a[1:], b[1:]) for a, b in pairs])
    srcs = [7, 99, 7]
    local = sorted(
        (r["vertex"], r["source"], r["dist"])
        for r in hop_distances(e, srcs, max_hops=3).collect()
    )
    dist = sorted(
        (r["vertex"], r["source"], r["dist"])
        for r in hop_distances(e, srcs, max_hops=3, driver_threshold=0).collect()
    )
    assert local == dist and ("7", "7", 0) in local and len(local) > 4


def test_k_truss_max_iters_boundary_parity(spark):
    """Each vertex of v0..v7 joined to its next four peels empty under k=6
    in exactly three rounds: with max_iters=3 both regimes return the empty
    truss, with max_iters=2 both raise."""
    from graphrag_litex_spark.operators.graph_analytics import k_truss

    pairs = [(f"v{i}", f"v{j}") for i in range(8) for j in range(i + 1, min(8, i + 5))]
    e = _edges_df(spark, pairs)
    for thr in (100_000, 0):
        assert k_truss(e, 6, max_iters=3, driver_threshold=thr).count() == 0
        with pytest.raises(RuntimeError, match="did not converge in 2 rounds"):
            k_truss(e, 6, max_iters=2, driver_threshold=thr)


def test_neighborhood_exact_gate_clamped_to_sketch_exactness(spark):
    """A 700-leaf star's center ball (701 vertices) leaves the lg_k=12
    sketches' exact coupon mode, so a caller's large driver_threshold must
    not switch the result to exact BFS counts: the valve stays at
    (1 << lg_k) // 16 vertices and both thresholds return sketch estimates.
    Outside the exact mode the estimates move run to run with the sketch
    union order (2103 vs 2108 seen at t=1), so the two runs are compared
    within sketch error, and against the exact counts for inequality."""
    from graphrag_litex_spark.operators.graph_analytics import neighborhood_function

    e = _edges_df(spark, [("hub", f"leaf{i:03d}") for i in range(700)])
    big = sorted(tuple(r) for r in neighborhood_function(e, driver_threshold=10_000).collect())
    dist = sorted(tuple(r) for r in neighborhood_function(e, driver_threshold=0).collect())
    assert big != [(0, 701.0), (1, 2101.0), (2, 491401.0), (3, 491401.0)]
    assert [t for t, _ in big[:3]] == [t for t, _ in dist[:3]] == [0, 1, 2]
    assert [n for _, n in big[:3]] == pytest.approx([n for _, n in dist[:3]], rel=0.05)


def test_neighborhood_driver_local_matches_distributed(spark):
    from graphrag_litex_spark.operators.graph_analytics import neighborhood_function

    pairs = _rand_graph(seed=7)
    e = _edges_df(spark, pairs)
    local = [(r["t"], r["reachable_pairs"]) for r in neighborhood_function(e).collect()]
    dist = [
        (r["t"], r["reachable_pairs"])
        for r in neighborhood_function(e, driver_threshold=0).collect()
    ]
    assert sorted(local) == sorted(dist) and local


def test_harmonic_closeness_rides_the_bfs_valve(spark):
    from graphrag_litex_spark.operators.graph_analytics import harmonic_closeness

    pairs = _rand_graph(seed=3)
    e = _edges_df(spark, pairs)
    rows = {
        r["name"]: (r["n_reached"], r["harmonic60"], r["closeness"])
        for r in harmonic_closeness(e, n_sources=4, max_hops=6).collect()
    }
    from graphrag_litex_spark.oracle_graph import harmonic_closeness_golden

    und = {(min(a, b), max(a, b)) for a, b in pairs if a != b}
    assert rows == harmonic_closeness_golden(und, n_sources=4, max_hops=6)
