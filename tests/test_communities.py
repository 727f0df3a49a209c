"""F1/E5/E6 fixtures: two 5-cliques joined by one bridge + isolated dyads
(FIXTURES.md §5 community set)."""

import math

import pandas as pd
import pytest
from pyspark.sql import functions as F

from graphrag_litex_spark.operators import communities as C


def _edges_df(spark, pairs):
    rows = [
        (a, b, a, b, "rel", 0.9, 1) for a, b in pairs
    ]
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=["src_id", "dst_id", "src", "dst", "pred", "strength", "n_obs"])
    )


def _nodes_df(spark, ids):
    return spark.createDataFrame(
        pd.DataFrame({"entity_id": ids, "name": [i.upper() for i in ids]})
    )


@pytest.fixture(scope="module")
def clique_graph(spark):
    left = [f"a{i}" for i in range(5)]
    right = [f"b{i}" for i in range(5)]
    pairs = []
    for grp in (left, right):
        pairs += [(x, y) for i, x in enumerate(grp) for y in grp[i + 1 :]]
    pairs.append(("a0", "b0"))  # bridge
    pairs += [("x0", "x1"), ("y0", "y1")]  # dyads (below min size)
    ids = left + right + ["x0", "x1", "y0", "y1"]
    return _nodes_df(spark, ids), _edges_df(spark, pairs)


def test_two_cliques_detected_and_dyads_absorbed(clique_graph):
    nodes, edges = clique_graph
    comms = C.detect_communities(nodes, edges, levels=1, min_size=3, lpa_iters=6)
    rows = comms.where(F.col("level") == 0).collect()
    by_comm = {}
    for r in rows:
        by_comm.setdefault(r["community_id"], set()).add(r["entity_id"])
    # All 14 vertices remain assigned.
    assert sum(len(v) for v in by_comm.values()) == 14
    # The two cliques end up in separate communities.
    comm_of = {e: c for c, es in by_comm.items() for e in es}
    assert comm_of["a1"] == comm_of["a2"] == comm_of["a3"] == comm_of["a4"]
    assert comm_of["b1"] == comm_of["b2"] == comm_of["b3"] == comm_of["b4"]
    assert comm_of["a1"] != comm_of["b1"]
    # Dyads (size 2 < min 3) are merged into the largest community (E6).
    for dyad in ("x0", "x1", "y0", "y1"):
        assert comm_of[dyad] in {comm_of["a1"], comm_of["b1"]}


def test_community_stats_formulas(spark, clique_graph):
    nodes, edges = clique_graph
    # Hand-pin a membership: the two cliques as two communities.
    membership = spark.createDataFrame(
        pd.DataFrame(
            [(0, "cA", None, f"a{i}") for i in range(5)]
            + [(0, "cB", None, f"b{i}") for i in range(5)],
            columns=["level", "community_id", "parent", "entity_id"],
        )
    )
    stats = {r["community_id"]: r for r in C.community_stats(membership, edges).collect()}
    a = stats["cA"]
    # 5-clique: internal = 10, external = 1 (bridge a0-b0).
    assert a["size"] == 5
    assert a["internal_edges"] == 10.0
    assert a["external_edges"] == 1.0
    # density = 2*10/(5*4) = 1.0 (nx.density of a clique).
    assert abs(a["density"] - 1.0) < 1e-9
    # flow = 10/11.
    assert abs(a["flow"] - 10 / 11) < 1e-9
    # description_length = binary entropy of (10/11, 1/11).
    import math

    pi, pe = 10 / 11, 1 / 11
    want_dl = -(pi * math.log2(pi) + pe * math.log2(pe))
    assert abs(a["description_length"] - want_dl) < 1e-9


def test_min_size_no_valid_keeps_largest(spark):
    # Only dyads: no community >= min_size -> keep the largest small one
    # and merge the rest into it (community_detection.py:107-114).
    nodes = _nodes_df(spark, ["x0", "x1", "y0", "y1", "y2"])
    edges = _edges_df(spark, [("x0", "x1"), ("y0", "y1"), ("y1", "y2")])
    comms = C.detect_communities(nodes, edges, levels=1, min_size=4, lpa_iters=4)
    labels = {r["entity_id"]: r["community_id"] for r in comms.collect()}
    assert len(set(labels.values())) == 1


def test_summaries_shape(spark, clique_graph):
    nodes, edges = clique_graph
    comms = C.detect_communities(nodes, edges, levels=1, min_size=3, lpa_iters=6)
    stats = C.community_stats(comms, edges)
    summ = C.summarize_communities(comms, stats, nodes, edges).collect()
    assert len(summ) >= 2
    for r in summ:
        assert 0.0 <= r["rating"] <= 10.0
        assert r["title"]
        assert r["full_text"].startswith(r["title"])
        for f in r["findings"]:
            assert f["summary"] and f["explanation"]


def test_hierarchy_driver_local_matches_distributed(spark, clique_graph):
    """The adaptive driver-local FULL hierarchy (LPA + min-size + sub-level
    recursion) must equal the distributed per-level loop row-for-row."""
    nodes, edges = clique_graph
    local = set(
        map(
            tuple,
            C.detect_communities(
                nodes, edges, levels=3, min_size=2, lpa_iters=6
            ).collect(),
        )
    )
    dist = set(
        map(
            tuple,
            C.detect_communities(
                nodes, edges, levels=3, min_size=2, lpa_iters=6, driver_threshold=0
            ).collect(),
        )
    )
    assert local == dist
    assert len(local) > 14  # multiple levels actually emitted


@pytest.fixture(scope="module")
def random_graph(spark):
    """40 vertices, ~70 random edges: sparse enough to leave big parents,
    dropped sub-communities and passthrough communities at once."""
    ids, pairs = _random_ids_pairs()
    return _nodes_df(spark, ids), _edges_df(spark, pairs)


def _random_ids_pairs():
    import random

    rng = random.Random(7)
    ids = [f"n{i:02d}" for i in range(40)]
    pairs = {
        tuple(sorted((ids[rng.randrange(40)], ids[rng.randrange(40)])))
        for _ in range(70)
    }
    return ids, [(a, b) for a, b in sorted(pairs) if a != b]


def test_hierarchy_identity_random_graph(spark, random_graph):
    """Driver-local vs distributed hierarchy on a random sparse graph —
    exercises big-parent re-clustering, dropped sub-communities, and
    passthrough at once."""
    nodes, edges = random_graph
    kw = dict(levels=3, min_size=3, lpa_iters=8)
    local = set(map(tuple, C.detect_communities(nodes, edges, **kw).collect()))
    dist = set(
        map(
            tuple,
            C.detect_communities(nodes, edges, driver_threshold=0, **kw).collect(),
        )
    )
    assert local == dist


def test_stats_and_summaries_with_shared_degrees(spark, clique_graph):
    """Passing a precomputed member_edge_degrees must not change results."""
    nodes, edges = clique_graph
    comms = C.detect_communities(nodes, edges, levels=2, min_size=3, lpa_iters=6)
    deg = C.member_edge_degrees(comms, edges)
    s_plain = {tuple(r) for r in C.community_stats(comms, edges).collect()}
    s_shared = {
        tuple(r) for r in C.community_stats(comms, edges, degrees=deg).collect()
    }
    assert s_plain == s_shared
    stats = C.community_stats(comms, edges)
    sum_plain = {
        (r["level"], r["community_id"], r["title"], r["full_text"])
        for r in C.summarize_communities(comms, stats, nodes, edges).collect()
    }
    sum_shared = {
        (r["level"], r["community_id"], r["title"], r["full_text"])
        for r in C.summarize_communities(
            comms, stats, nodes, edges, degrees=deg
        ).collect()
    }
    assert sum_plain == sum_shared


def test_lpa_driver_local_matches_distributed(spark, clique_graph):
    """Adaptive small-graph LPA must equal the distributed loop exactly."""
    nodes, edges = clique_graph
    und = C._und_edges(edges)
    local = {
        r["entity_id"]: r["label"]
        for r in C.label_propagation(
            nodes.select("entity_id"), und, iters=6, driver_threshold=100_000
        ).collect()
    }
    dist = {
        r["entity_id"]: r["label"]
        for r in C.label_propagation(
            nodes.select("entity_id"), und, iters=6, driver_threshold=0
        ).collect()
    }
    assert local == dist


@pytest.mark.parametrize("kind", ["int", "null"])
def test_adversarial_ids_match_distributed(spark, kind):
    """Int ids, or a NULL vertex with an edge, fail the driver-local valve's
    string guard: detect_communities and label_propagation then run their
    distributed loops at the default threshold and equal the threshold-0
    output. min_size=1 keeps the NULL vertex's singleton community valid."""
    ids, pairs = _random_ids_pairs()
    if kind == "int":
        ids = [int(i[1:]) for i in ids]
        pairs = [(int(a[1:]), int(b[1:])) for a, b in pairs]
        typ = "long"
    else:
        ids, pairs, typ = ids + [None], pairs + [("n00", None)], "string"
    nodes = spark.createDataFrame([(i, str(i)) for i in ids], f"entity_id {typ}, name string")
    edges = spark.createDataFrame(pairs, f"src_id {typ}, dst_id {typ}")

    def rows(df):
        return sorted(map(tuple, df.collect()), key=repr)

    kw = dict(levels=3, min_size=1, lpa_iters=8)
    assert rows(C.detect_communities(nodes, edges, **kw)) == rows(
        C.detect_communities(nodes, edges, driver_threshold=0, **kw)
    )
    verts, und = nodes.select("entity_id"), edges.toDF("u", "v")
    assert rows(C.label_propagation(verts, und, iters=6)) == rows(
        C.label_propagation(verts, und, iters=6, driver_threshold=0)
    )


# ---- partition quality vs the reference's Louvain fallback ----------------


def _louvain_py(ids, und_pairs, max_passes=10):
    """Compact deterministic Louvain (the reference's fallback algorithm,
    community_detection.py:85-100): local-move phase to a fixpoint, then
    graph aggregation, repeated. Deterministic: nodes visited in sorted
    order, best community by (gain desc, community id asc)."""
    node_comm = {u: u for u in ids}
    graph = {}  # (a, b) -> weight with a <= b
    for a, b in und_pairs:
        key = (a, b) if a <= b else (b, a)
        graph[key] = graph.get(key, 0.0) + 1.0
    mapping = {u: u for u in ids}  # original node -> current community

    while True:
        nodes = sorted({x for e in graph for x in e} | set(node_comm))
        adj = {}
        loops = {}
        for (a, b), w in graph.items():
            if a == b:
                loops[a] = loops.get(a, 0.0) + w
                continue
            adj.setdefault(a, {})[b] = adj.get(a, {}).get(b, 0.0) + w
            adj.setdefault(b, {})[a] = adj.get(b, {}).get(a, 0.0) + w
        k = {u: sum(adj.get(u, {}).values()) + 2 * loops.get(u, 0.0) for u in nodes}
        m2 = sum(k.values())  # = 2m
        if m2 == 0:
            break
        comm = {u: u for u in nodes}
        sigma_tot = dict(k)
        improved_any = False
        while True:
            moved = False
            for u in nodes:
                cu = comm[u]
                # weights from u to each neighboring community
                w_to = {}
                for v, w in adj.get(u, {}).items():
                    w_to[comm[v]] = w_to.get(comm[v], 0.0) + w
                sigma_tot[cu] -= k[u]
                best_c, best_gain = cu, 0.0
                for c, w in sorted(w_to.items()):
                    gain = w - sigma_tot[c] * k[u] / m2
                    base = w_to.get(cu, 0.0) - sigma_tot[cu] * k[u] / m2
                    if gain - base > best_gain + 1e-12 or (
                        abs(gain - base - best_gain) <= 1e-12 and c < best_c
                    ):
                        best_gain = gain - base
                        best_c = c
                sigma_tot[best_c] = sigma_tot.get(best_c, 0.0) + k[u]
                if best_c != cu:
                    comm[u] = best_c
                    moved = True
                    improved_any = True
            if not moved:
                break
        if not improved_any:
            break
        # aggregate: communities become nodes
        mapping = {orig: comm[c] for orig, c in mapping.items()}
        new_graph = {}
        for (a, b), w in graph.items():
            ca, cb = comm[a], comm[b]
            key = (ca, cb) if ca <= cb else (cb, ca)
            new_graph[key] = new_graph.get(key, 0.0) + w
        if len({c for c in comm.values()}) == len(nodes):
            break
        graph = new_graph
        node_comm = {c: c for c in set(comm.values())}
    return mapping


def _modularity_py(partition, und_pairs):
    m = len(set((a, b) if a <= b else (b, a) for a, b in und_pairs))
    if m == 0:
        return 0.0
    deg = {}
    for a, b in und_pairs:
        deg[a] = deg.get(a, 0) + 1
        deg[b] = deg.get(b, 0) + 1
    e_c, d_c = {}, {}
    for a, b in und_pairs:
        if partition.get(a) == partition.get(b):
            e_c[partition[a]] = e_c.get(partition[a], 0) + 1
    for u, d in deg.items():
        c = partition.get(u)
        d_c[c] = d_c.get(c, 0) + d
    return sum(
        e_c.get(c, 0) / m - (d_c[c] / (2 * m)) ** 2 for c in d_c
    )


@pytest.fixture(scope="module")
def ring_of_cliques(spark):
    """5 cliques of 5, ring-linked — the standard community benchmark."""
    pairs = []
    ids = []
    for c in range(5):
        grp = [f"c{c}n{i}" for i in range(5)]
        ids += grp
        pairs += [(x, y) for i, x in enumerate(grp) for y in grp[i + 1 :]]
    for c in range(5):  # ring links
        pairs.append((f"c{c}n0", f"c{(c + 1) % 5}n0"))
    return ids, pairs


def test_lpa_modularity_close_to_louvain(spark, ring_of_cliques):
    """VERDICT r2 #4: measure the LPA substitute's partition quality against
    the reference's Louvain fallback on the same graph. Recorded in
    COVERAGE.md."""
    ids, pairs = ring_of_cliques
    nodes = _nodes_df(spark, ids)
    edges = _edges_df(spark, pairs)
    comms = C.detect_communities(nodes, edges, levels=1, min_size=3, lpa_iters=8)
    q_lpa = C.modularity(comms, edges, level=0)
    q_louvain = _modularity_py(_louvain_py(ids, pairs), pairs)
    # sanity: Louvain finds the planted 5-clique structure
    assert q_louvain > 0.6
    assert q_lpa >= 0.8 * q_louvain, f"LPA Q={q_lpa:.4f} vs Louvain Q={q_louvain:.4f}"


def test_modularity_spark_matches_python(spark, clique_graph):
    nodes, edges = clique_graph
    comms = C.detect_communities(nodes, edges, levels=1, min_size=3, lpa_iters=6)
    part = {r["entity_id"]: r["community_id"] for r in comms.collect()}
    und = {(r["u"], r["v"]) for r in C._und_edges(edges).collect()}
    q_spark = C.modularity(comms, edges, level=0)
    q_py = _modularity_py(part, list(und))
    assert abs(q_spark - q_py) < 1e-9


# ---- warm-start (incremental community refresh) ---------------------------


def test_lpa_warm_start_converged_seed_is_fixpoint(spark, ring_of_cliques):
    """Seeding LPA with its own converged labels is a fixpoint: ONE
    verification round (iters=1) reproduces the full cold-start output
    exactly — the property that makes incremental refresh cheap."""
    ids, pairs = ring_of_cliques
    und = _edges_df(spark, pairs).selectExpr("src as u", "dst as v")
    verts = _nodes_df(spark, ids).select("entity_id")
    cold = C.label_propagation(verts, und, iters=8)
    seed = cold
    warm = C.label_propagation(verts, und, iters=1, seed_labels=seed)
    assert sorted(map(tuple, warm.collect())) == sorted(map(tuple, cold.collect()))


def test_lpa_warm_start_distributed_matches_driver_local(spark, ring_of_cliques):
    """Seeded LPA: the distributed loop and the driver-local kernel stay
    identity-equal (the cold-path identity test, extended to seeds)."""
    ids, pairs = ring_of_cliques
    und = _edges_df(spark, pairs).selectExpr("src as u", "dst as v")
    verts = _nodes_df(spark, ids).select("entity_id")
    # adversarial seed: everyone claims c0n0's label
    seed = verts.selectExpr("entity_id", "'c0n0' as label")
    local = C.label_propagation(verts, und, iters=4, seed_labels=seed)
    dist = C.label_propagation(
        verts, und, iters=4, seed_labels=seed, driver_threshold=0
    )
    assert sorted(map(tuple, local.collect())) == sorted(map(tuple, dist.collect()))


def test_detect_communities_warm_start_on_grown_graph(spark, ring_of_cliques):
    """Incremental refresh: seed detect_communities on a GROWN graph with
    the old graph's level-0 labels. All (old + new) entities are covered,
    and the warm partition's modularity is not materially worse than the
    cold rebuild's — the same quality gate the cold path answers to."""
    ids, pairs = ring_of_cliques
    old = C.detect_communities(
        _nodes_df(spark, ids), _edges_df(spark, pairs), levels=1, min_size=3
    )
    seed = old.where("level = 0").selectExpr(
        "entity_id", "substring(community_id, 3) as label"
    )
    # grow: a sixth clique bridged into the ring
    new_ids = ids + [f"c5n{i}" for i in range(5)]
    grp = [f"c5n{i}" for i in range(5)]
    new_pairs = pairs + [(x, y) for i, x in enumerate(grp) for y in grp[i + 1 :]]
    new_pairs.append(("c0n0", "c5n0"))
    nodes2, edges2 = _nodes_df(spark, new_ids), _edges_df(spark, new_pairs)
    warm = C.detect_communities(nodes2, edges2, levels=1, min_size=3, seed_labels=seed)
    cold = C.detect_communities(nodes2, edges2, levels=1, min_size=3)
    assert {r["entity_id"] for r in warm.collect()} == set(new_ids)
    q_warm = C.modularity(warm, edges2, level=0)
    q_cold = C.modularity(cold, edges2, level=0)
    assert q_warm >= 0.8 * q_cold, f"warm Q={q_warm:.4f} vs cold Q={q_cold:.4f}"


# ---- driver-local graph tail vs the Spark operators -----------------------


def _spark_tail(nodes, edges, **kw):
    """The operator-by-operator path the pipeline runs above the valve."""
    from graphrag_litex_spark.querying.answer import embed_summaries

    comms = C.detect_communities(nodes, edges, driver_threshold=0, **kw)
    stats = C.community_stats(comms, edges)
    summ = C.summarize_communities(comms, stats, nodes, edges)
    return {
        "communities": comms,
        "community_stats": stats,
        "summaries": summ,
        "summary_embeddings": embed_summaries(summ),
    }


def _plain(v):
    if isinstance(v, (list, tuple)):  # arrays and struct Rows
        return tuple(_plain(x) for x in v)
    return v


def _keyed(df, key):
    return {
        tuple(r[k] for k in key): {c: _plain(r[c]) for c in df.columns}
        for r in df.collect()
    }


def _assert_tail_matches(nodes, edges, **kw):
    from graphrag_litex_spark.querying.answer import EMBED_DIM

    want = _spark_tail(nodes, edges, **kw)
    got = C.graph_tail(nodes, edges, dim=EMBED_DIM, **kw)
    assert set(got) == set(want)
    for name, df in want.items():
        assert got[name].dtypes == df.dtypes, name
        key = ["level", "entity_id" if name == "communities" else "community_id"]
        w, g = _keyed(df, key), _keyed(got[name], key)
        assert g.keys() == w.keys(), name
        for k, row in w.items():
            if "description_length" in row:
                # Spark's log2 runs on StrictMath; libm may differ by an ulp.
                a, b = row.pop("description_length"), g[k].pop("description_length")
                assert abs(a - b) <= math.ulp(a), (name, k, a, b)
            assert g[k] == row, (name, k)
    return got


def test_graph_tail_matches_spark_cliques(spark, clique_graph):
    nodes, edges = clique_graph
    got = _assert_tail_matches(nodes, edges, levels=3, min_size=2, lpa_iters=6)
    assert got["communities"].where("level = 2").count() > 0


def test_graph_tail_matches_spark_ring(spark, ring_of_cliques):
    ids, pairs = ring_of_cliques
    _assert_tail_matches(
        _nodes_df(spark, ids), _edges_df(spark, pairs), levels=3, min_size=3, lpa_iters=8
    )


def test_graph_tail_matches_spark_random(spark, random_graph):
    nodes, edges = random_graph
    _assert_tail_matches(nodes, edges, levels=3, min_size=3, lpa_iters=8)


def test_graph_tail_matches_spark_adversarial(spark):
    """A 7-clique whose names tie on n_int (the title goes to the smallest
    name in byte order: "Alpha" < "alpha" < ... < "Émile"), a self-loop (an
    intra finding, but no community edge), strengths where Spark's HALF_UP
    round differs from Python's (0.8125 -> 0.813, 0.1235 -> 0.124), a
    strength tie broken by dst, an edge to a vertex that is not a node, a
    dyad and an isolated vertex that E6 merges into the clique's community
    (making it a big parent whose re-clustered child fills
    sub_communities), and a triangle with a NULL-named member (NULL titles
    sort first and are skipped in reports)."""
    k = [f"k{i}" for i in range(7)]
    kname = ["zed", "Émile", "alpha", "Alpha", "beta", "gamma", "delta"]
    nodes = spark.createDataFrame(
        pd.DataFrame(
            {
                "entity_id": k + ["x0", "x1", "iso", "t0", "t1", "t2"],
                "name": kname + ["x0", "x1", "iso", "tri", None, "Tri"],
            }
        )
    )
    name = dict(zip(k, kname)) | {"t0": "tri", "t1": None, "t2": "Tri"}
    strengths = [0.8125, 0.1235, 2.675, 0.0005, 0.7, 0.7, 0.55]
    rows = []
    for i in range(7):
        for j in range(i + 1, 7):
            s = strengths[(i + j) % 7]
            rows.append((k[i], k[j], name[k[i]], name[k[j]], "rel", s, i + j))
    rows += [
        ("k1", "k0", name["k1"], name["k0"], "back", 0.8125, 2),  # reverse copy
        ("k0", "k0", name["k0"], name["k0"], "self", 0.99, 4),  # self-loop
        ("k2", "ghost", name["k2"], "ghost", "rel", 0.5, 1),  # not a node
        ("x0", "x1", "x0", "x1", "rel", 0.6, 1),
        ("t0", "t1", "tri", None, "rel", 0.6, 1),
        ("t1", "t2", None, "Tri", "rel", 0.6, 1),
        ("t2", "t0", "Tri", "tri", "rel", 0.6, 1),
    ]
    edges = spark.createDataFrame(
        pd.DataFrame(
            rows, columns=["src_id", "dst_id", "src", "dst", "pred", "strength", "n_obs"]
        )
    )
    got = _assert_tail_matches(nodes, edges, levels=3, min_size=3, lpa_iters=8)
    summ = {r["community_id"]: r for r in got["summaries"].collect()}
    big = summ[next(c for c in summ if c.startswith("0_k"))]
    assert big["title"] == "Alpha" and big["size"] == 10
    assert big["sub_communities"] == ["Alpha"]
    # Ranked after the three 2.675 edges: the self-loop, then 0.8125 edges.
    assert [f["summary"] for f in big["findings"]][3] == "zed self zed"
    assert any("strength 0.813" in f["explanation"] for f in big["findings"])
    assert any(r["title"] is None for r in summ.values())


def test_graph_tail_matches_spark_empty(spark):
    nodes = spark.createDataFrame([], "entity_id string, name string")
    edges = spark.createDataFrame(
        [],
        "src_id string, dst_id string, src string, dst string, pred string, "
        "strength double, n_obs long",
    )
    got = _assert_tail_matches(nodes, edges, levels=3, min_size=3, lpa_iters=8)
    assert all(df.count() == 0 for df in got.values())
