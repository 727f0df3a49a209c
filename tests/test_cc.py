"""E3 connected-components fixtures: transitivity + permutation invariance
(the property the reference's greedy resolver lacks, SURVEY.md Q5)."""

import pandas as pd
import pytest

from graphrag_litex_spark.operators.cc import connected_components
from graphrag_litex_spark.oracle import link_names


def _run_cc(spark, vertices, edges):
    vdf = spark.createDataFrame(pd.DataFrame({"norm_name": vertices}))
    edf = spark.createDataFrame(pd.DataFrame(edges, columns=["src", "dst"]))
    return {
        r["norm_name"]: r["label"]
        for r in connected_components(vdf, edf).collect()
    }


def test_chain_transitivity(spark):
    # A~B, B~C but A!~C: all three must share one canonical label (min).
    labels = _run_cc(spark, ["a", "b", "c", "z"], [("a", "b"), ("b", "c")])
    assert labels["a"] == labels["b"] == labels["c"] == "a"
    assert labels["z"] == "z"


def test_two_components(spark):
    labels = _run_cc(
        spark,
        ["a", "b", "c", "d", "e"],
        [("a", "b"), ("c", "d"), ("d", "e")],
    )
    assert labels["a"] == labels["b"] == "a"
    assert labels["c"] == labels["d"] == labels["e"] == "c"


def test_long_path_converges(spark):
    # Path of 12 vertices — requires multiple propagation rounds.
    verts = [f"v{i:02d}" for i in range(12)]
    edges = [(f"v{i:02d}", f"v{i+1:02d}") for i in range(11)]
    labels = _run_cc(spark, verts, edges)
    assert set(labels.values()) == {"v00"}


def test_matches_union_find_oracle(spark):
    names = {
        "acme corp",
        "acme corporation",
        "acme labs",
        "globex inc",
        "globex incorporated",
        "bob smithers",
    }
    oracle_map = link_names(names)
    # Build the same candidate edges the oracle used and run distributed CC.
    from graphrag_litex_spark.operators.linking import candidate_pairs

    vdf = spark.createDataFrame(pd.DataFrame({"norm_name": sorted(names)}))
    pairs = candidate_pairs(vdf)
    labels = {
        r["norm_name"]: r["label"]
        for r in connected_components(vdf, pairs).collect()
    }
    assert labels == oracle_map


def test_permutation_invariance(spark):
    verts = ["m", "a", "q", "b", "c"]
    edges = [("q", "m"), ("a", "b")]
    l1 = _run_cc(spark, verts, edges)
    l2 = _run_cc(spark, list(reversed(verts)), list(reversed(edges)))
    assert l1 == l2


def test_driver_local_matches_distributed_path(spark):
    """The adaptive small-graph union-find must be byte-identical to the
    distributed star-contraction loop on the same input."""
    import random

    rng = random.Random(13)
    verts = [f"n{i:03d}" for i in range(120)]
    edges = [
        (verts[rng.randrange(120)], verts[rng.randrange(120)]) for _ in range(90)
    ]
    vdf = spark.createDataFrame(pd.DataFrame({"norm_name": verts}))
    edf = spark.createDataFrame(pd.DataFrame(edges, columns=["src", "dst"]))
    local = {
        r["norm_name"]: r["label"]
        for r in connected_components(vdf, edf, driver_threshold=100_000).collect()
    }
    dist = {
        r["norm_name"]: r["label"]
        for r in connected_components(vdf, edf, driver_threshold=0).collect()
    }
    assert local == dist


def test_non_string_ids_fall_through_to_distributed_path(spark):
    """The driver-local union-find sorts ids and emits a string-schema
    frame, so int ids and NULL ids must skip the probe's valve and run the
    distributed loop instead of crashing. A NULL vertex id emits no row and
    an edge with a NULL endpoint joins nothing."""
    vdf = spark.createDataFrame(pd.DataFrame({"norm_name": [1, 2, 3, 4, 9]}))
    edf = spark.createDataFrame(pd.DataFrame([(1, 2), (3, 2)], columns=["src", "dst"]))
    labels = {r["norm_name"]: r["label"] for r in connected_components(vdf, edf).collect()}
    assert labels == {1: 1, 2: 1, 3: 1, 4: 4, 9: 9}

    vdf = spark.createDataFrame([("a",), ("b",), (None,)], "norm_name string")
    edf = spark.createDataFrame([("b", "a"), ("b", None)], "src string, dst string")
    got = set(map(tuple, connected_components(vdf, edf).collect()))
    dist = set(map(tuple, connected_components(vdf, edf, driver_threshold=0).collect()))
    assert got == dist == {("a", "a"), ("b", "a")}


def test_edge_only_endpoints_identical_across_paths(spark):
    """Ids appearing only in edges propagate labels (a-x, x-b with x not a
    vertex still connects a and b; an edge-only id can be the component
    min) but emit no rows — identically on the driver-local and
    distributed paths."""
    verts = ["b", "c", "z"]
    edges = [("b", "x"), ("x", "c"), ("a", "b")]  # x, a are edge-only
    vdf = spark.createDataFrame(pd.DataFrame({"norm_name": verts}))
    edf = spark.createDataFrame(pd.DataFrame(edges, columns=["src", "dst"]))
    local = {
        r["norm_name"]: r["label"]
        for r in connected_components(vdf, edf, driver_threshold=100_000).collect()
    }
    dist = {
        r["norm_name"]: r["label"]
        for r in connected_components(vdf, edf, driver_threshold=0).collect()
    }
    assert local == dist
    # b and c joined through edge-only x; component min is edge-only "a".
    assert local == {"b": "a", "c": "a", "z": "z"}


def test_embedding_candidate_pairs_reference_semantics(spark):
    """The embedding scorer links by cosine of name embeddings within
    first-token blocks (reference entity_resolver.py:32-42 semantics)."""
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from graphrag_litex_spark.operators.linking import embedding_candidate_pairs

    names = spark.createDataFrame(
        pd.DataFrame({"norm_name": ["acme corp", "acme corporation", "acme labs", "zeta corp"]})
    )

    # Controlled embedder: identical vectors for the two "corp*" variants,
    # orthogonal for the rest -> exactly one pair above 0.85.
    table = {
        "acme corp": [1.0, 0.0, 0.0],
        "acme corporation": [1.0, 0.0, 0.0],
        "acme labs": [0.0, 1.0, 0.0],
        "zeta corp": [1.0, 0.0, 0.0],  # same vector but different block
    }

    @F.pandas_udf(T.ArrayType(T.DoubleType()))
    def fake_embed(s: pd.Series) -> pd.Series:
        return s.map(table.get)

    pairs = embedding_candidate_pairs(names, threshold=0.85, embed_udf=fake_embed).collect()
    assert [(r["src"], r["dst"], r["sim"]) for r in pairs] == [
        ("acme corp", "acme corporation", 1.0)
    ]  # zeta corp blocked out despite identical embedding


def test_embedding_pairs_default_hash_embed_and_cc(spark):
    """Default embedder path composes with CC into a canon map; token
    reorderings embed identically (cosine 1.0) and so link."""
    import pandas as pd

    from graphrag_litex_spark.operators.linking import embedding_candidate_pairs

    names_l = ["alice johnson", "alice johnson phd", "alice smith", "bob jones"]
    names = spark.createDataFrame(pd.DataFrame({"norm_name": names_l}))
    pairs = embedding_candidate_pairs(names, threshold=0.80)
    got = {(r["src"], r["dst"]) for r in pairs.collect()}
    # "alice johnson" vs "alice johnson phd": 2 shared tokens of 2 vs 3
    # -> cosine = 2/sqrt(6) ~= 0.816; vs "alice smith" -> 1/2 = 0.5.
    assert ("alice johnson", "alice johnson phd") in got
    assert ("alice johnson", "alice smith") not in got
    labels = connected_components(names, pairs, id_col="norm_name")
    lmap = {r["norm_name"]: r["label"] for r in labels.collect()}
    assert lmap["alice johnson"] == lmap["alice johnson phd"] == "alice johnson"
    assert lmap["alice smith"] == "alice smith"


def test_embedding_scorer_pipeline_config(spark, corpus_sf0001, tmp_path):
    """PipelineConfig(link_scorer='embedding') runs the linking stage with
    the embedding-cosine scorer. With the token-hash embedder at the
    reference's 0.85 threshold only near-identical token sets link, so on
    this corpus every normalized name stays its own canonical (the
    documented default-embedder behavior; a semantic embedder in the C7
    slot recovers fuzzy suffix linking)."""
    from graphrag_litex_spark.plans.pipeline import PipelineConfig, run_pipeline

    res = run_pipeline(
        spark,
        corpus_sf0001["transcripts"],
        str(tmp_path / "kg_emb"),
        config=PipelineConfig(link_scorer="embedding"),
        resume=False,
        until="canon_map",
    )
    rows = res["canon_map"].collect()
    assert len(rows) == 60
    assert all(r["norm_name"] == r["canonical"] for r in rows)


def test_prefix_ngram_embedder_links_suffix_expansions(spark):
    """VERDICT r2 #6: the deterministic prefix-ngram embedder in the C7
    slot reproduces the reference resolver's fuzzy suffix-expansion merges
    ("acme corp" ~ "acme corporation" at cosine >= 0.85,
    entity_resolver.py:32-42) while unrelated names stay apart."""
    from graphrag_litex_spark.operators.linking import (
        embedding_candidate_pairs,
        prefix_ngram_embed_udf,
    )

    names_l = [
        "acme corp",
        "acme corporation",
        "acme labs",
        "globex inc",
        "globex incorporated",
        "bob smithers",
    ]
    names = spark.createDataFrame(pd.DataFrame({"norm_name": names_l}))
    pairs = embedding_candidate_pairs(
        names, threshold=0.85, embed_udf=prefix_ngram_embed_udf()
    )
    got = {(r["src"], r["dst"]) for r in pairs.collect()}
    assert ("acme corp", "acme corporation") in got
    assert ("globex inc", "globex incorporated") in got
    assert all("labs" not in a and "labs" not in b for a, b in got)

    labels = connected_components(names, pairs, id_col="norm_name")
    lmap = {r["norm_name"]: r["label"] for r in labels.collect()}
    # suffix expansions land in one component; acme labs stays its own
    assert lmap["acme corp"] == lmap["acme corporation"] == "acme corp"
    assert lmap["acme labs"] == "acme labs"
    assert lmap["globex inc"] == lmap["globex incorporated"] == "globex inc"


def test_prefix_ngram_pipeline_config(spark, corpus_sf0001, tmp_path):
    """PipelineConfig(link_scorer='embedding', link_embedder='prefix_ngram')
    wires the semantic embedder through the linking stage end-to-end."""
    from graphrag_litex_spark.plans.pipeline import PipelineConfig, run_pipeline

    res = run_pipeline(
        spark,
        corpus_sf0001["transcripts"],
        str(tmp_path / "kg_png"),
        config=PipelineConfig(link_scorer="embedding", link_embedder="prefix_ngram"),
        resume=False,
        until="canon_map",
    )
    rows = res["canon_map"].collect()
    by_canon = {}
    for r in rows:
        by_canon.setdefault(r["canonical"], []).append(r["norm_name"])
    # the corpus's planted suffix variants merge under this embedder
    merged = [v for v in by_canon.values() if len(v) > 1]
    assert merged, "expected at least one suffix-expansion merge"


def test_registered_custom_embedder_drop_in(spark, corpus_sf0001, tmp_path):
    """VERDICT r3 #7: a production embedder (sentence-transformer shaped:
    model "loaded" once per executor inside the UDF closure) drops into the
    C7 slot via register_link_embedder + PipelineConfig(link_embedder=name)
    — zero pipeline code changes. The fake model maps every 'acme *' name
    to one vector, so those names merge into a single canonical entity."""
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from graphrag_litex_spark.operators.linking import (
        register_link_embedder,
        resolve_link_embedder,
    )
    from graphrag_litex_spark.plans.pipeline import PipelineConfig, run_pipeline

    def make_fake_st_udf():
        # The pattern a real sentence-transformer uses: the (fake) model is
        # constructed lazily inside the UDF the first time a batch arrives
        # on an executor, then reused for every later batch.
        state = {}

        @F.pandas_udf(T.ArrayType(T.DoubleType()))
        def fake_st(s: pd.Series) -> pd.Series:
            if "model" not in state:
                state["model"] = lambda t: (
                    [1.0, 0.0] if (t or "").startswith("acme") else
                    [0.0, 1.0] if not t else
                    [float(len(t) % 7 + 1), float(sum(map(ord, t)) % 11 + 1)]
                )
            return s.map(state["model"])

        return fake_st

    register_link_embedder("fake_st", make_fake_st_udf)
    assert resolve_link_embedder("fake_st") is not None

    res = run_pipeline(
        spark,
        corpus_sf0001["transcripts"],
        str(tmp_path / "kg_custom_emb"),
        config=PipelineConfig(link_scorer="embedding", link_embedder="fake_st"),
        resume=False,
        until="canon_map",
    )
    canon = {r["norm_name"]: r["canonical"] for r in res["canon_map"].collect()}
    acme = {n for n in canon if n.split()[0] == "acme"}
    assert len(acme) >= 2  # corpus has multiple acme variants
    assert len({canon[n] for n in acme}) == 1  # all merged by the fake model

    with pytest.raises(ValueError, match="unknown link_embedder"):
        resolve_link_embedder("never_registered")


def _cc_map(spark, verts, edges, **kw):
    vdf = spark.createDataFrame(pd.DataFrame({"norm_name": verts}))
    edf = spark.createDataFrame(
        pd.DataFrame(edges, columns=["src", "dst"]),
        schema="src string, dst string",
    )
    out = connected_components(vdf, edf, **kw)
    return {r["norm_name"]: r["label"] for r in out.collect()}, out


def test_distributed_matches_union_find_random_graphs(spark):
    """Large-star/small-star output is byte-identical to the union-find on
    seeded random graphs (several densities, including forests and a
    near-complete blob)."""
    import random

    for seed, n, m in [(3, 60, 20), (5, 60, 80), (7, 40, 300)]:
        rng = random.Random(seed)
        verts = [f"n{i:03d}" for i in range(n)]
        edges = [
            (verts[rng.randrange(n)], verts[rng.randrange(n)]) for _ in range(m)
        ]
        ref, _ = _cc_map(spark, verts, edges, driver_threshold=100_000)
        dist, _ = _cc_map(spark, verts, edges, driver_threshold=0)
        assert dist == ref, f"seed={seed}"


def test_distributed_logarithmic_rounds_on_chain(spark):
    """The scale property that motivates the algorithm: a 256-hop chain
    (the adversarial near-dup topology) converges in O(log n) rounds —
    label propagation would need 255."""
    verts = [f"c{i:04d}" for i in range(256)]
    edges = [(verts[i], verts[i + 1]) for i in range(255)]
    ref, _ = _cc_map(spark, verts, edges, driver_threshold=100_000)
    dist, out = _cc_map(spark, verts, edges, driver_threshold=0, max_iter=20)
    assert dist == ref
    assert set(dist.values()) == {"c0000"}
    rounds = out._graft_cc_rounds
    assert rounds <= 12, rounds  # ~log2(256)+terminal check, not 255


def test_default_distributed_cc_joins_a_long_shuffled_chain(spark):
    """At the default ``max_iter`` (the pipeline's ``cc_max_iter``), a
    40-hop name chain whose ids are shuffled along it is one component,
    labelled without a max_iter warning."""
    import random
    import warnings

    verts = [f"name {i:02d}" for i in range(41)]
    chain = verts[:]
    random.Random(7).shuffle(chain)
    edges = list(zip(chain, chain[1:]))
    with warnings.catch_warnings():
        warnings.simplefilter("error", RuntimeWarning)
        labels, _ = _cc_map(spark, verts, edges, driver_threshold=0)
    assert labels == {v: "name 00" for v in verts}


def test_alternating_edge_only_and_isolated(spark):
    """Through the large-star/small-star loop, edge-only intermediates
    propagate (and can be the min) but emit no rows; isolated vertices
    label themselves."""
    verts = ["b", "c", "z"]
    edges = [("b", "x"), ("x", "c"), ("a", "b")]
    labels, out = _cc_map(spark, verts, edges, driver_threshold=0)
    assert labels == {"b": "a", "c": "a", "z": "z"}
    assert out.count() == len(verts)


def test_distributed_no_edges(spark):
    labels, _ = _cc_map(spark, ["x", "y"], [], driver_threshold=0)
    assert labels == {"x": "x", "y": "y"}


def test_max_iter_exhaustion_warns_not_silent(spark):
    """Exiting the distributed loop via max_iter without convergence must
    warn (ADVICE r4): silent non-minimum labels at scale are undebuggable."""
    import warnings as _w

    verts = [f"p{i:02d}" for i in range(10)]
    edges = [(f"p{i:02d}", f"p{i+1:02d}") for i in range(9)]
    vdf = spark.createDataFrame(pd.DataFrame({"norm_name": verts}))
    edf = spark.createDataFrame(pd.DataFrame(edges, columns=["src", "dst"]))
    with pytest.warns(RuntimeWarning, match="max_iter"):
        connected_components(vdf, edf, max_iter=1, driver_threshold=0).collect()
    # Converged runs stay silent.
    with _w.catch_warnings():
        _w.simplefilter("error", RuntimeWarning)
        got = {
            r["norm_name"]: r["label"]
            for r in connected_components(vdf, edf, driver_threshold=0).collect()
        }
    assert set(got.values()) == {"p00"}


def test_blocking_quality_matches_pure_python_golden(spark):
    """blocking_quality == a sequential all-pairs replica built from the
    same functions.normalize primitives (char_ngrams / name_similarity /
    blocking_key), including the integer micro-unit ratios."""
    import itertools

    from graphrag_litex_spark.functions.normalize import (
        SIM_THRESHOLD,
        blocking_key,
        name_similarity,
    )
    from graphrag_litex_spark.operators.linking import blocking_quality

    names = sorted(
        {
            "acme corp",
            "acme corporation",
            "acme labs",
            "globex inc",
            "globex incorporated",
            "bob smithers",
            "smithers",  # cross-block true match vs "bob smithers"
            "zz",  # len<3: whole-string ngram edge case
        }
    )
    all_pairs = cand = match = found = 0
    for a, b in itertools.combinations(names, 2):
        a, b = min(a, b), max(a, b)
        same = blocking_key(a) == blocking_key(b)
        dup = name_similarity(a, b) >= SIM_THRESHOLD
        all_pairs += 1
        cand += same
        match += dup
        found += same and dup
    assert match > found > 0  # the fixture exercises a blocking miss

    vdf = spark.createDataFrame(pd.DataFrame({"norm_name": names}))
    row = blocking_quality(vdf).collect()[0]
    assert row["n_names"] == len(names)
    assert row["n_blocks"] == len({blocking_key(n) for n in names})
    assert row["all_pairs"] == all_pairs
    assert row["candidate_pairs"] == cand
    assert row["match_pairs"] == match
    assert row["matches_blocked"] == found
    assert row["pair_completeness_micro"] == found * 1_000_000 // match
    assert row["reduction_ratio_micro"] == (all_pairs - cand) * 1_000_000 // all_pairs


def test_blocking_quality_sample_and_empty(spark):
    """sample_rate gates the name set deterministically; an empty name set
    yields the degenerate (complete, zero-reduction) row, not a crash."""
    from graphrag_litex_spark.operators.linking import blocking_quality

    empty = spark.createDataFrame(pd.DataFrame({"norm_name": ["solo name"]})).limit(0)
    row = blocking_quality(empty).collect()[0]
    assert row["n_names"] == 0 and row["all_pairs"] == 0
    assert row["pair_completeness_micro"] == 1_000_000
    assert row["reduction_ratio_micro"] == 0

    names = [f"name {i:03d}" for i in range(40)]
    vdf = spark.createDataFrame(pd.DataFrame({"norm_name": names}))
    full = blocking_quality(vdf).collect()[0]
    half = blocking_quality(vdf, sample_rate=0.5).collect()[0]
    assert 0 < half["n_names"] < full["n_names"]
    # same md5-prefix rule as operators/sampling: rerun-stable
    again = blocking_quality(vdf, sample_rate=0.5).collect()[0]
    assert half == again


def test_threshold_sweep_matches_pure_python_golden(spark):
    """threshold_sweep == sequential per-threshold counts over the same
    blocked pairs, monotone non-increasing in the threshold."""
    import itertools

    from graphrag_litex_spark.functions.normalize import (
        blocking_key,
        name_similarity,
    )
    from graphrag_litex_spark.operators.linking import threshold_sweep

    names = sorted(
        {
            "acme corp",
            "acme corporation",
            "acme corpora",
            "acme labs",
            "globex inc",
            "globex incorporated",
        }
    )
    thresholds = [0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]
    sims = [
        name_similarity(a, b)
        for a, b in itertools.combinations(names, 2)
        if blocking_key(a) == blocking_key(b)
    ]
    expected = {
        int(round(t * 1_000_000)): sum(
            1 for s in sims if int(s * 1_000_000) >= int(round(t * 1_000_000))
        )
        for t in thresholds
    }
    vdf = spark.createDataFrame(pd.DataFrame({"norm_name": names}))
    got = {
        r["threshold_micro"]: r["n_candidate_pairs"]
        for r in threshold_sweep(vdf, thresholds).collect()
    }
    assert got == expected
    curve = [got[k] for k in sorted(got)]
    assert curve == sorted(curve, reverse=True)  # monotone non-increasing
    assert curve[0] > 0 and curve[-1] < curve[0]  # fixture spans the knee
