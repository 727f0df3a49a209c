"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship KG query at sf0.001; ``queries()`` maps
every implemented operator (SURVEY.md §2) to a (spark, sf_dir) callable;
``oracle_sql()`` gives the DuckDB-equivalent SQL. KG-pipeline queries run
over the deterministic synthetic transcripts corpus (BASELINE input_hint
shape) generated under data/gen/sf{sf}/ — the DuckDB oracles for those
read the single-process golden parquet produced by the SAME pure-Python
extractor/linker (graphrag_litex_spark.oracle), making the comparison a
true differential test of the distributed pipeline. Operator-breadth
queries run over the driver-provided testdata views.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from graphrag_litex_spark import datagen

REPO = os.path.dirname(os.path.abspath(__file__))

# Generate corpora + goldens for the sfs the driver exercises (idempotent;
# pure Python, no Spark needed).
_CORPUS = {sf: datagen.ensure_corpus(sf) for sf in (0.001, 0.01)}

# DuckDB-side normalization identical to H2 (entity_resolver.py:14-20):
_DDB_NORM = "trim(regexp_replace(lower(strip_accents({col})), '[^a-z0-9]+', ' ', 'g'))"
# DuckDB-side text normalization identical to operators.dedup.norm_text_col:
_DDB_TEXT_NORM = (
    "trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]+', ' ', 'g'), "
    "'\\s+', ' ', 'g'))"
)
# Gopher n-gram repetition oracle over a ``documents`` view: the relational
# formulation (explode every n-gram, count per (doc, n, gram), rank, pivot)
# that operators/scrub.ngram_repetition_stats' Arrow kernel must match.
NGRAM_REPETITION_SQL = f"""
    WITH b AS (
        SELECT doc_id, {_DDB_TEXT_NORM} AS norm FROM documents
    ), t AS (
        SELECT doc_id,
               CASE WHEN norm = '' THEN [] ELSE string_split(norm, ' ') END AS toks,
               length(norm) AS n_chars
        FROM b
    ), g AS (
        SELECT doc_id, n_chars, n,
               array_to_string(list_slice(toks, i, i + n - 1), ' ') AS gram
        FROM (
            SELECT t.doc_id, t.n_chars, ns.n, t.toks,
                   unnest(generate_series(1, len(t.toks) - ns.n + 1)) AS i
            FROM t CROSS JOIN (VALUES (2), (3), (4), (5), (10)) AS ns(n)
        )
    ), c AS (
        SELECT doc_id, n_chars, n, gram, count(*) AS c
        FROM g GROUP BY ALL
    ), r AS (
        SELECT *, row_number() OVER (
            PARTITION BY doc_id, n ORDER BY c DESC, gram ASC) AS rk
        FROM c
    ), a AS (
        SELECT doc_id, n,
               max(CASE WHEN rk = 1 THEN c * length(gram) END) AS top_chars,
               sum((c - 1) * length(gram)) AS dup_chars
        FROM r GROUP BY ALL
    ), p AS (
        SELECT doc_id,
               max(CASE WHEN n = 2 THEN top_chars END) AS t2,
               max(CASE WHEN n = 3 THEN top_chars END) AS t3,
               max(CASE WHEN n = 4 THEN top_chars END) AS t4,
               max(CASE WHEN n = 5 THEN dup_chars END) AS d5,
               max(CASE WHEN n = 10 THEN dup_chars END) AS d10
        FROM a GROUP BY doc_id
    )
    SELECT t.doc_id, cast(t.n_chars AS bigint) AS n_chars,
           coalesce(round(coalesce(t2, 0) * 1.0 / nullif(t.n_chars, 0), 6), 0.0) AS top2gram_char_frac,
           coalesce(round(coalesce(t3, 0) * 1.0 / nullif(t.n_chars, 0), 6), 0.0) AS top3gram_char_frac,
           coalesce(round(coalesce(t4, 0) * 1.0 / nullif(t.n_chars, 0), 6), 0.0) AS top4gram_char_frac,
           coalesce(round(coalesce(d5, 0) * 1.0 / nullif(t.n_chars, 0), 6), 0.0) AS dup5gram_char_frac,
           coalesce(round(coalesce(d10, 0) * 1.0 / nullif(t.n_chars, 0), 6), 0.0) AS dup10gram_char_frac
    FROM t LEFT JOIN p USING (doc_id)
    ORDER BY doc_id
"""
# Stopword list literals shared with operators.text_analysis.STOPWORDS:
from graphrag_litex_spark.operators.text_analysis import BPE_PRETOKEN_RE as _BPE_RE
from graphrag_litex_spark.operators.text_analysis import STOPWORDS as _SW

# The SAME pretokenizer pattern string the Spark side compiles (Java regex),
# quoted as a DuckDB string literal — interpolated, not hand-copied, so the
# two engines can never drift.
_DDB_BPE_RE = "'" + _BPE_RE.replace("'", "''") + "'"

_SW_EN, _SW_DE, _SW_FR, _SW_ES = (
    "[" + ", ".join(f"'{w}'" for w in _SW[lang]) + "]" for lang in ("en", "de", "fr", "es")
)

_KG_CACHE: dict[float, dict[str, DataFrame]] = {}


def _sf_from_dir(sf_dir: str) -> float:
    tail = os.path.basename(sf_dir.rstrip("/"))
    return float(tail[2:]) if tail.startswith("sf") else 0.01


def _kg(spark: SparkSession, sf: float) -> dict[str, DataFrame]:
    """Run (or resume) the KG pipeline for the sf-scaled corpus."""
    if sf not in _KG_CACHE:
        from graphrag_litex_spark.plans.pipeline import run_pipeline

        paths = datagen.ensure_corpus(sf)
        out = os.path.join(paths["dir"], "kg")
        _KG_CACHE[sf] = run_pipeline(spark, paths["transcripts"], out, resume=True)
    return _KG_CACHE[sf]


def _gold(sf: float, name: str) -> str:
    return _CORPUS.setdefault(sf, datagen.ensure_corpus(sf))[name]


def _t(sf_dir: str, table: str) -> str:
    return os.path.join(sf_dir, f"{table}.parquet")


# --------------------------------------------------------------------------
# entry: flagship query (driver smoke check at sf0.001)
# --------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Top entities by graph degree with merged descriptions (E1+E2+D1)."""
    kg = _kg(spark, 0.001)
    edges = kg["edges"]
    deg = (
        edges.select(F.col("src").alias("name"))
        .unionAll(edges.select(F.col("dst").alias("name")))
        .groupBy("name")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    nodes = kg["nodes"].select(
        F.col("canonical_name").alias("name"), "type", "description", "n_mentions"
    )
    return (
        deg.join(nodes, "name")
        .orderBy(F.col("degree").desc(), F.col("name").asc())
        .limit(20)
    )


# --------------------------------------------------------------------------
# queries: one entry per implemented operator
# --------------------------------------------------------------------------


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    q: dict[str, Callable[[SparkSession, str], DataFrame]] = {}

    # ---- KG pipeline (differential vs single-process golden oracle) ----

    def kg_triples_agg(spark, sf_dir):
        t = _kg(spark, _sf_from_dir(sf_dir))["triples"]
        return t.groupBy("subj", "pred", "obj").agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("strength"), 6).alias("avg_strength"),
        )

    def kg_canon_map(spark, sf_dir):
        return _kg(spark, _sf_from_dir(sf_dir))["canon_map"].select("norm_name", "canonical")

    def kg_nodes_agg(spark, sf_dir):
        n = _kg(spark, _sf_from_dir(sf_dir))["nodes"]
        return n.select(
            F.col("canonical_name"),
            F.col("n_mentions").cast("long").alias("n_mentions"),
            F.col("n_instances").cast("long").alias("n_instances"),
        )

    def kg_edges_merged(spark, sf_dir):
        e = _kg(spark, _sf_from_dir(sf_dir))["edges"]
        return e.select(
            "src",
            "dst",
            "pred",
            F.round("strength", 6).alias("strength"),
            F.col("n_obs").cast("long").alias("n_obs"),
        )

    def kg_claims_agg(spark, sf_dir):
        c = _kg(spark, _sf_from_dir(sf_dir))["claims"]
        return c.select(
            F.lower(F.col("content")).alias("content_key"),
            F.col("n_obs").cast("long").alias("n_obs"),
            F.size("entity_ids").cast("long").alias("n_entities"),
        )

    def kg_chunks(spark, sf_dir):
        ch = _kg(spark, _sf_from_dir(sf_dir))["chunks"]
        return ch.select("conv_id", "turn_idx", "chunk_id", "text")

    def kg_reassembly(spark, sf_dir):
        ch = _kg(spark, _sf_from_dir(sf_dir))["chunks"]
        return (
            ch.groupBy("conv_id")
            .agg(F.sort_array(F.collect_list(F.struct("turn_idx", "text"))).alias("_s"))
            .select(
                "conv_id",
                F.concat_ws(" ", F.col("_s.text")).alias("conversation"),
                F.size("_s").cast("long").alias("n_turns"),
            )
        )

    def kg_top_entities_by_degree(spark, sf_dir):
        e = _kg(spark, _sf_from_dir(sf_dir))["edges"]
        deg = (
            e.select(F.col("src").alias("name"))
            .unionAll(e.select(F.col("dst").alias("name")))
            .groupBy("name")
            .agg(F.count(F.lit(1)).alias("degree"))
        )
        return deg.orderBy(F.col("degree").desc(), F.col("name").asc()).limit(10)

    # Rows-only (iterative graph algorithms; no SQL equivalent):
    def kg_communities(spark, sf_dir):
        return _kg(spark, _sf_from_dir(sf_dir))["communities"]

    def kg_community_stats(spark, sf_dir):
        s = _kg(spark, _sf_from_dir(sf_dir))["community_stats"]
        return s.select(
            "level",
            "community_id",
            "size",
            F.round("density", 6).alias("density"),
            F.round("flow", 6).alias("flow"),
        )

    def kg_summaries(spark, sf_dir):
        s = _kg(spark, _sf_from_dir(sf_dir))["summaries"]
        return s.select("level", "community_id", "title", "rating", "summary")

    def kg_entity_rank(spark, sf_dir):
        """Entity salience: damped PageRank over the merged-edge graph as an
        iterative hash-join loop (no GraphX), differential vs the
        pure-Python power-iteration golden."""
        from graphrag_litex_spark.operators.pagerank import pagerank

        e = _kg(spark, _sf_from_dir(sf_dir))["edges"]
        pr = pagerank(e.select("src", "dst"))
        return pr.select(F.col("vertex").alias("name"), F.round("rank", 6).alias("rank"))

    def kg_blocking_quality(spark, sf_dir):
        """Blocking-stage evaluation (Christen's pair completeness +
        reduction ratio) for the D6 linking blocker over this corpus's
        distinct normalized names: truth = all-pairs char-3-gram Jaccard at
        the linking threshold, so the one-row report states exactly what
        first-token blocking discards and how much of the quadratic space it
        prunes. Full value compare vs the same metrics in SQL."""
        from graphrag_litex_spark.operators.linking import blocking_quality

        m = _kg(spark, _sf_from_dir(sf_dir))["mentions"]
        names = m.select("norm_name").where(F.col("norm_name") != "").distinct()
        return blocking_quality(names)

    def kg_threshold_sweep(spark, sf_dir):
        """Linking-threshold tuning curve: candidate-pair count per
        threshold from ONE scoring pass over the blocked name pairs (the
        knob audit run before changing SIM_THRESHOLD). Full value compare
        vs the same sweep in SQL."""
        from graphrag_litex_spark.operators.linking import threshold_sweep

        m = _kg(spark, _sf_from_dir(sf_dir))["mentions"]
        names = m.select("norm_name").where(F.col("norm_name") != "").distinct()
        return threshold_sweep(names)

    def kg_related_entities(spark, sf_dir):
        """Hybrid related-entities via reciprocal-rank fusion (RRF,
        SIGIR'09): attestation / common-neighbor / co-mention rankings
        anchored at the top-degree entity, fused with exact truncating
        integer contributions. Full value compare vs the same three ranked
        lists and fusion in SQL."""
        from graphrag_litex_spark.operators.graph_analytics import (
            related_entities_rrf,
            undirected_simple,
        )

        kg = _kg(spark, _sf_from_dir(sf_dir))
        tri = kg["triples"].select("subj", "pred", "obj")
        und = undirected_simple(tri.select(F.col("subj").alias("src"), F.col("obj").alias("dst")))
        anchor = (
            und.select(F.col("a").alias("u"))
            .unionAll(und.select(F.col("b").alias("u")))
            .groupBy("u")
            .agg(F.count(F.lit(1)).alias("d"))
            .orderBy(F.col("d").desc(), F.col("u").asc())
            .limit(1)
            .collect()[0]["u"]
        )
        mc = kg["mentions"].join(
            F.broadcast(kg["canon_map"]), "norm_name"
        ).select("chunk_id", "canonical")
        return related_entities_rrf(tri, mc, anchor, k=10)

    def kg_local_search(spark, sf_dir):
        """GraphRAG LOCAL search: question-seeded personalized PageRank over
        the entity graph (vs the community-summary GLOBAL path of
        kg_query_topk). Differential vs the pure-Python PPR golden."""
        from graphrag_litex_spark.querying.answer import local_search

        kg = _kg(spark, _sf_from_dir(sf_dir))
        return local_search(kg, "who acquired acme corp", k=10)

    def kg_local_context(spark, sf_dir):
        """Local-search CONTEXT retrieval: top personalized-PageRank
        entities vote for the chunks that mention them."""
        from graphrag_litex_spark.querying.answer import local_search_context

        kg = _kg(spark, _sf_from_dir(sf_dir))
        return local_search_context(kg, "who acquired acme corp")

    def kg_sparsified(spark, sf_dir):
        """Union-kNN graph sparsification (k=2) of the merged entity graph
        by sighting count: an edge survives iff it is in the top-2 of
        either endpoint's adjacency — the hub-taming pre-step before
        community detection / walks. Full value compare vs the same
        windows in SQL over the golden triples."""
        from graphrag_litex_spark.operators.graph_analytics import sparsify_topk

        e = _kg(spark, _sf_from_dir(sf_dir))["edges"].select(
            "src", "dst", F.col("n_obs").cast("long").alias("n_obs")
        )
        return sparsify_topk(e, k=2, weight_col="n_obs")

    def kg_rerank_context(spark, sf_dir):
        """Retrieve -> rerank: the local-search context shortlist re-ordered
        by question/text token-set Jaccard in truncating integer micro-units
        (the cross-encoder slot's deterministic default — zero Python,
        replicable in SQL). Oracle = golden local context + the same
        overlap expression over the transcript text."""
        from graphrag_litex_spark.querying.answer import (
            local_search_context,
            rerank_by_overlap,
        )

        kg = _kg(spark, _sf_from_dir(sf_dir))
        cands = local_search_context(kg, "who acquired acme corp").join(
            kg["chunks"].select("chunk_id", "text"), "chunk_id"
        )
        return rerank_by_overlap(cands, "who acquired acme corp", k=5)

    def kg_drift_search(spark, sf_dir):
        """GraphRAG DRIFT-style hybrid query mode: global community
        selection seeds a personalized-PageRank local ranking (the third
        query mode beside kg_query_topk GLOBAL and kg_local_search LOCAL).
        Differential vs the composed pure-Python golden."""
        from graphrag_litex_spark.querying.answer import drift_search

        kg = _kg(spark, _sf_from_dir(sf_dir))
        return drift_search(kg, "who acquired acme corp", k=10)

    def kg_triangle_stats(spark, sf_dir):
        """Per-entity triangle participation + local clustering coefficient
        over the merged-edge graph (degree-ordered wedge enumeration —
        operators/graph_analytics.triangle_counts). The nx.triangles /
        nx.clustering a reference user runs on the NetworkX graph."""
        from graphrag_litex_spark.operators.graph_analytics import triangle_counts

        e = _kg(spark, _sf_from_dir(sf_dir))["edges"]
        return triangle_counts(e.select("src", "dst")).select(
            F.col("vertex").alias("name"),
            "degree",
            F.col("n_triangles").cast("long").alias("n_triangles"),
            "clustering",
        )

    def kg_link_prediction(spark, sf_dir):
        """Common-neighbor link prediction: top non-adjacent entity pairs by
        shared-neighbor count (+ Jaccard), deterministic (common, a, b)
        ranking — 'suggest missing edges' over the KG."""
        from graphrag_litex_spark.operators.graph_analytics import link_prediction

        e = _kg(spark, _sf_from_dir(sf_dir))["edges"]
        lp = link_prediction(e.select("src", "dst"))
        return lp.orderBy(F.col("common").desc(), F.col("a"), F.col("b")).limit(20)

    def kg_kcore(spark, sf_dir):
        """2-core of the entity graph (iterative distributed peeling),
        differential vs the pure-Python sequential-peel golden."""
        from graphrag_litex_spark.operators.graph_analytics import k_core

        e = _kg(spark, _sf_from_dir(sf_dir))["edges"]
        return k_core(e.select("src", "dst"), 2).select(
            F.col("vertex").alias("name"), "core_degree"
        )

    def kg_component_sizes(spark, sf_dir):
        """Connected-component size histogram of the merged entity graph
        (size, n_components) — the fragmentation audit a KG operator reads
        after every build (one giant component + dust is healthy; many
        mid-size islands means linking under-merged). Exercises the E3 CC
        operator on the KG EDGE graph (the canon map's CC runs on the
        name-similarity graph — a different topology); differential vs a
        pure-Python union-find golden."""
        from graphrag_litex_spark.operators.cc import connected_components

        # Self-loops carry no connectivity; drop them so the vertex set is
        # the und graph's (same domain as every other kg_* graph query).
        e = _kg(spark, _sf_from_dir(sf_dir))["edges"].where(
            F.col("src") != F.col("dst")
        )
        verts = (
            e.select(F.col("src").alias("v"))
            .unionAll(e.select(F.col("dst").alias("v")))
            .distinct()
        )
        labels = connected_components(
            verts, e.select("src", "dst"), id_col="v"
        )
        return (
            labels.groupBy("label")
            .agg(F.count(F.lit(1)).alias("size"))
            .groupBy("size")
            .agg(F.count(F.lit(1)).alias("n_components"))
        )

    def kg_neighborhood_function(spark, sf_dir):
        """HyperBall neighborhood function N(t) over the entity graph —
        per-vertex HLL ball sketches, one adjacency join + register-max
        union per round. At this scale the sketches stay in exact coupon
        mode, so the estimate is value-compared against a pure-Python
        exact-BFS golden; at 10^12 turns the same plan runs with O(V·2^lgk)
        state instead of BFS's O(V²)."""
        from graphrag_litex_spark.operators.graph_analytics import (
            neighborhood_function,
        )

        e = _kg(spark, _sf_from_dir(sf_dir))["edges"]
        return neighborhood_function(e.select("src", "dst"), max_t=4)

    def kg_shortest_path(spark, sf_dir):
        """'How are these two entities related?' — the canonical shortest
        path (min-name BFS parent chain) between the two top-degree
        entities of the merged graph, reconstructed hop-by-hop; endpoints
        picked by the same deterministic (degree desc, name asc) rule the
        golden replays."""
        from graphrag_litex_spark.operators.graph_analytics import (
            _degrees,
            shortest_path,
            undirected_simple,
        )

        e = _kg(spark, _sf_from_dir(sf_dir))["edges"]
        und = undirected_simple(e, "src", "dst")
        top = [
            r["vertex"]
            for r in _degrees(und)
            .orderBy(F.desc("degree"), "vertex")
            .limit(2)
            .collect()
        ]
        if len(top) < 2:
            return spark.createDataFrame(
                [(False, -1, "")], "found boolean, hops int, path_str string"
            )
        return shortest_path(e, top[0], top[1]).select("found", "hops", "path_str")

    def kg_ktruss(spark, sf_dir):
        """4-truss of the entity graph (iterative distributed edge peeling:
        every surviving edge closes >= 2 triangles within the truss),
        differential vs the pure-Python sequential-peel golden."""
        from graphrag_litex_spark.operators.graph_analytics import k_truss

        e = _kg(spark, _sf_from_dir(sf_dir))["edges"]
        return k_truss(e.select("src", "dst"), 4)

    def kg_wl_roles(spark, sf_dir):
        """Weisfeiler-Lehman structural-role histogram (2 refinement
        rounds): how many entities share each radius-2 neighborhood shape —
        the rename-invariant structural profile of the KG, differential vs
        the pure-Python xxhash64-replica golden."""
        from graphrag_litex_spark.operators.graph_analytics import wl_signatures

        e = _kg(spark, _sf_from_dir(sf_dir))["edges"]
        return (
            wl_signatures(e.select("src", "dst"), rounds=2)
            .groupBy("wl_label")
            .agg(F.count(F.lit(1)).alias("n_vertices"))
        )

    def kg_closeness(spark, sf_dir):
        """Approximate harmonic centrality (Eppstein-Wang pivot sampling):
        shared multi-source BFS as a frontier hash-join loop; integer-exact
        harmonic sums (60 = lcm(1..6) scaling). Differential vs the
        pure-Python BFS golden."""
        from graphrag_litex_spark.operators.graph_analytics import harmonic_closeness

        e = _kg(spark, _sf_from_dir(sf_dir))["edges"]
        return harmonic_closeness(
            e.select("src", "dst"), n_sources=8, max_hops=6
        ).orderBy("name")

    def kg_global_search(spark, sf_dir):
        """GraphRAG global search's MAP phase as a contract query: top-k
        community selection (embedded summaries, cosine) -> per-community
        relevant-findings answer + Jaccard helpfulness (querying/answer.
        map_answers — reference querying/map_reduce.py). Differential vs
        the pure-Python replica over the golden top-k."""
        from graphrag_litex_spark.querying.answer import (
            embed_summaries,
            map_answers,
            select_top_k,
        )

        s = _kg(spark, _sf_from_dir(sf_dir))["summaries"]
        sel = select_top_k(
            embed_summaries(s), "who acquired acme corp", level=0, k=5
        )
        return map_answers(sel, "who acquired acme corp").select(
            "level", "community_id", "title", "answer", "helpfulness", "score"
        )

    def kg_betweenness(spark, sf_dir):
        """Approximate betweenness (Brandes dependency accumulation over
        Brandes-Pich sampled pivots): forward multi-source BFS carrying
        integer shortest-path counts, backward per-level dependency joins.
        Differential vs the pure-Python Brandes golden (same pivots, same
        max_hops truncation)."""
        from graphrag_litex_spark.operators.graph_analytics import betweenness_approx

        e = _kg(spark, _sf_from_dir(sf_dir))["edges"]
        return betweenness_approx(
            e.select("src", "dst"), n_sources=8, max_hops=8
        ).orderBy("name")

    def kg_edge_history(spark, sf_dir):
        """Temporal KG provenance: per merged (subj, pred, obj) triple, the
        first/last transcript timestamp it was observed at and the sighting
        count — the edge-validity-interval view a temporally-aware consumer
        reads. One (conv_id, turn_idx) equi-join + one hash agg; epoch
        seconds because timestamp stringification differs across engines."""
        sf = _sf_from_dir(sf_dir)
        t = _kg(spark, sf)["triples"]
        tr = spark.read.parquet(_gold(sf, "transcripts")).select("conv_id", "turn_idx", "ts")
        return (
            t.join(tr, ["conv_id", "turn_idx"])
            .groupBy("subj", "pred", "obj")
            .agg(
                F.unix_timestamp(F.min("ts")).cast("long").alias("first_seen"),
                F.unix_timestamp(F.max("ts")).cast("long").alias("last_seen"),
                F.count(F.lit(1)).alias("n_sightings"),
            )
        )

    def kg_edges_decayed(spark, sf_dir):
        """Recency-weighted edge strength: each sighting's 1e6 micro-units
        are integer-HALVED once per elapsed half-life (shiftright — no
        libm exp, engine-exact sums), half-life = corpus time range / 8 so
        the weights are discriminative at any sf. Full value compare vs
        the same shifts in SQL."""
        from graphrag_litex_spark.operators.temporal import decayed_edge_strength

        sf = _sf_from_dir(sf_dir)
        t = _kg(spark, sf)["triples"]
        tr = spark.read.parquet(_gold(sf, "transcripts")).select(
            "conv_id", "turn_idx", F.unix_timestamp("ts").cast("long").alias("es")
        )
        lo, hi = tr.agg(F.min("es"), F.max("es")).collect()[0]
        half_life = max(1, (int(hi) - int(lo)) // 8)
        sightings = t.join(tr, ["conv_id", "turn_idx"]).select("subj", "obj", "es")
        return decayed_edge_strength(sightings, half_life, as_of_epoch=int(hi))

    def kg_asof_edges(spark, sf_dir):
        """Temporal snapshot: the merged edge set AS OF the corpus's time
        midpoint — only observations with ts <= T contribute, so strength/
        counts are what a consumer at time T would have seen. T derives
        from the data ((min+max)/2 epoch seconds, broadcast one-row join),
        making the query sf-invariant; at warehouse scale T is a literal
        and the ts filter pushes to the scan."""
        sf = _sf_from_dir(sf_dir)
        t = _kg(spark, sf)["triples"]
        tr = spark.read.parquet(_gold(sf, "transcripts")).select(
            "conv_id", "turn_idx", F.unix_timestamp("ts").cast("long").alias("es")
        )
        bounds = tr.agg(
            ((F.min("es") + F.max("es")) / 2).cast("long").alias("t_mid")
        )
        obs = (
            t.join(tr, ["conv_id", "turn_idx"])
            .crossJoin(F.broadcast(bounds))
            .where(F.col("es") <= F.col("t_mid"))
        )
        return obs.groupBy(
            F.col("subj").alias("src"), F.col("obj").alias("dst")
        ).agg(
            F.round(F.avg("strength"), 6).alias("strength"),
            F.count(F.lit(1)).alias("n_obs"),
            F.max("es").alias("last_seen"),
        )

    def kg_entity_timeline(spark, sf_dir):
        """Per-entity mention timeline at day grain (epoch-day integer —
        engine-exact, no date-type stringification): the drift/burst
        detector for entity salience. Mentions resolve through the canon
        map (inner join, reference D1 drop semantics) then bucket on
        floor(epoch/86400)."""
        sf = _sf_from_dir(sf_dir)
        kg = _kg(spark, sf)
        m = kg["mentions"].select(
            F.col("source_id").alias("conv_id"), "turn_idx", "norm_name"
        )
        cm = kg["canon_map"].select("norm_name", "canonical")
        tr = spark.read.parquet(_gold(sf, "transcripts")).select(
            "conv_id", "turn_idx", F.unix_timestamp("ts").cast("long").alias("es")
        )
        return (
            m.join(cm, "norm_name")
            .join(tr, ["conv_id", "turn_idx"])
            .withColumn("day", (F.col("es") / 86400).cast("long"))
            .groupBy("canonical", "day")
            .agg(
                F.count(F.lit(1)).alias("n_mentions"),
                F.count_distinct("conv_id").alias("n_convs"),
            )
        )

    def kg_snapshot_diff(spark, sf_dir):
        """Build-over-build graph diff (operators/snapshots.snapshot_diff):
        the change feed an incremental pipeline publishes after an append —
        edge snapshots AS OF two corpus-derived cutoffs (1/3 and 2/3 time
        points) full-outer joined on the pair key with added/changed/stable
        status. ONE equi-join at entity-pair grain; both sides bucketed in
        the published warehouse. 'removed' can't occur on an append-only
        corpus (unit-tested in test_graph_ml.py instead)."""
        from graphrag_litex_spark.operators.snapshots import snapshot_diff

        sf = _sf_from_dir(sf_dir)
        t = _kg(spark, sf)["triples"]
        tr = spark.read.parquet(_gold(sf, "transcripts")).select(
            "conv_id", "turn_idx", F.unix_timestamp("ts").cast("long").alias("es")
        )
        bounds = tr.agg(
            F.floor(F.min("es") + (F.max("es") - F.min("es")) / 3)
            .cast("long")
            .alias("t1"),
            F.floor(F.min("es") + 2 * (F.max("es") - F.min("es")) / 3)
            .cast("long")
            .alias("t2"),
        )
        obs = t.join(tr, ["conv_id", "turn_idx"]).crossJoin(F.broadcast(bounds))

        def snap(cutoff):
            return (
                obs.where(F.col("es") <= F.col(cutoff))
                .groupBy(F.col("subj").alias("src"), F.col("obj").alias("dst"))
                .agg(
                    F.round(F.avg("strength"), 6).alias("strength"),
                    F.count(F.lit(1)).alias("n_obs"),
                )
            )

        return snapshot_diff(
            snap("t1"), snap("t2"), ["src", "dst"], ["strength", "n_obs"]
        )

    def kg_integrity_report(spark, sf_dir):
        """Post-build graph audit (operators/integrity): every invariant the
        pipeline enforces by construction, counted after the fact — the QA
        gate a pipeline owner schedules per build. Differential: the Spark
        report over the distributed stage tables must equal the same checks
        computed in SQL over the single-process goldens."""
        from graphrag_litex_spark.operators.integrity import graph_integrity_report

        kg = _kg(spark, _sf_from_dir(sf_dir))
        return graph_integrity_report(kg["nodes"], kg["edges"], kg["canon_map"])

    def kg_negative_samples(spark, sf_dir):
        """KG-embedding training negatives (operators/graph_ml): k corrupted
        objects per distinct (subj, pred), drawn deterministically (md5
        ranks) from a fixed-size vocabulary pool, anti-joined against true
        triples so no negative is actually positive."""
        from graphrag_litex_spark.operators.graph_ml import negative_samples

        kg = _kg(spark, _sf_from_dir(sf_dir))
        return negative_samples(
            kg["triples"],
            kg["nodes"].select(F.col("canonical_name").alias("name")),
            k=3,
            pool_size=16,
        )

    def kg_random_walks(spark, sf_dir):
        """DeepWalk corpus (operators/graph_ml.random_walks): 2 deterministic
        3-step walks per node over the undirected merged edge graph; each
        step one frontier join + md5-min_by pick. The walk sentences feed
        skip-gram node-embedding training."""
        from graphrag_litex_spark.operators.graph_ml import random_walks

        e = _kg(spark, _sf_from_dir(sf_dir))["edges"].select("src", "dst")
        return random_walks(e, length=3, walks_per_node=2).select(
            "start", "walk_idx", "path", "end_node"
        )

    def kg_node2vec_walks(spark, sf_dir):
        """node2vec-biased walk corpus (operators/graph_ml.node2vec_walks):
        2 deterministic 3-step walks per node; the second-order (prev, cur)
        transition weighs return/common/far neighbors 1/2/4 by EXACT
        replica-argmin (each candidate gets w md5 draws — P = w/Σw with
        zero FP), so the oracle replays it as a constant replica table +
        arg_min in pure SQL."""
        from graphrag_litex_spark.operators.graph_ml import node2vec_walks

        e = _kg(spark, _sf_from_dir(sf_dir))["edges"].select("src", "dst")
        return node2vec_walks(
            e, length=3, walks_per_node=2, w_return=1, w_common=2, w_far=4
        ).select("start", "walk_idx", "path", "end_node")

    def kg_negative_samples_subj(spark, sf_dir):
        """Subject-side corruption (TransE corrupts BOTH slots): k
        corrupted subjects per distinct (pred, obj), same deterministic
        md5-rank machinery as the object side with independent draws."""
        from graphrag_litex_spark.operators.graph_ml import negative_samples

        kg = _kg(spark, _sf_from_dir(sf_dir))
        return negative_samples(
            kg["triples"],
            kg["nodes"].select(F.col("canonical_name").alias("name")),
            k=3,
            pool_size=16,
            corrupt="subj",
        )

    def kg_ppmi(spark, sf_dir):
        """PPMI weights over the walk co-occurrence matrix (graph_ml.
        ppmi_weights) — the closed-form DeepWalk training signal. The ln
        keeps the value out of the cross-engine contract (libm; same
        policy as trigram_logprob), so the driver records the weaker
        rows-only check here; the INTEGER inputs are fully value-checked
        via kg_walk_cooccurrence and the ln itself unit-tested vs
        math.log at 1e-12."""
        from graphrag_litex_spark.operators.graph_ml import (
            ppmi_weights,
            random_walks,
            walk_cooccurrence,
        )

        e = _kg(spark, _sf_from_dir(sf_dir))["edges"].select("src", "dst")
        return ppmi_weights(
            walk_cooccurrence(random_walks(e, length=3, walks_per_node=2), window=2)
        )

    def kg_walk_cooccurrence(spark, sf_dir):
        """Skip-gram pair counts over the walk corpus (graph_ml.
        walk_cooccurrence): undirected within-window co-occurrence — the
        input to PPMI / SGNS node-embedding training. Pair enumeration is
        one codegen projection (no joins); the only shuffle is the
        map-side-combined pair count."""
        from graphrag_litex_spark.operators.graph_ml import (
            random_walks,
            walk_cooccurrence,
        )

        e = _kg(spark, _sf_from_dir(sf_dir))["edges"].select("src", "dst")
        return walk_cooccurrence(random_walks(e, length=3, walks_per_node=2), window=2)

    def kg_ontology(spark, sf_dir):
        """Induced schema (operators/ontology.predicate_signatures): which
        (subj_type, predicate, obj_type) signatures the extractor produced,
        with triple and entity spread counts — the extractor-drift /
        de-facto-ontology table. Node-type map is entity-cardinality (AQE
        join); output bounded by |types|^2 x |preds|."""
        from graphrag_litex_spark.operators.ontology import predicate_signatures

        kg = _kg(spark, _sf_from_dir(sf_dir))
        ty = kg["nodes"].select(F.col("canonical_name").alias("name"), "type")
        return predicate_signatures(kg["triples"], ty)

    def kg_metapaths(spark, sf_dir):
        """Typed two-hop metapath rollup (ontology.metapath_counts): how
        often each (subj_type)-[p1]->(mid_type)-[p2]->(obj_type) shape
        occurs — the heterogeneous-network schema statistic behind guided
        walks and join templates; pure SQL oracle over golden triples +
        the min-mention-type map."""
        from graphrag_litex_spark.operators.ontology import metapath_counts

        kg = _kg(spark, _sf_from_dir(sf_dir))
        ty = kg["nodes"].select(F.col("canonical_name").alias("name"), "type")
        return metapath_counts(kg["triples"], ty)

    def kg_filtered_triples(spark, sf_dir):
        """Schema-support noise gate (ontology.filter_by_signature_support):
        triples kept only when their induced (subj_type, pred, obj_type)
        signature is attested by >= 8 distinct triples — the open-IE
        cleanup that drops one-off extractor hallucinations. The signature
        table is types²x-preds-bounded -> broadcast join back, no extra
        corpus shuffle."""
        from graphrag_litex_spark.operators.ontology import (
            filter_by_signature_support,
        )

        kg = _kg(spark, _sf_from_dir(sf_dir))
        ty = kg["nodes"].select(F.col("canonical_name").alias("name"), "type")
        out = filter_by_signature_support(kg["triples"], ty, min_support=8)
        return out.select(
            "conv_id",
            "turn_idx",
            "subj",
            "pred",
            "obj",
            "subj_type",
            "obj_type",
            F.col("sig_support").cast("long").alias("sig_support"),
        )

    def kg_type_cooccurrence(spark, sf_dir):
        """Coarse ontology view (operators/ontology.type_cooccurrence):
        undirected type-pair edge counts — which KINDS of things relate at
        all, the first chart on a KG dashboard. Same join/agg shape as
        predicate_signatures with the predicate collapsed."""
        from graphrag_litex_spark.operators.ontology import type_cooccurrence

        kg = _kg(spark, _sf_from_dir(sf_dir))
        ty = kg["nodes"].select(F.col("canonical_name").alias("name"), "type")
        return type_cooccurrence(kg["triples"], ty)

    def kg_assortativity(spark, sf_dir):
        """Degree-assortativity sufficient statistics (graph_analytics.
        degree_assortativity_components): exact integer sums over ordered
        endpoint-degree stub pairs — whether hubs connect to hubs (r from
        these is one driver-side FP step, unit-tested; the integers are
        engine-exact, same out-of-contract-FP policy as trigram LM)."""
        from graphrag_litex_spark.operators.graph_analytics import (
            degree_assortativity_components,
        )

        e = _kg(spark, _sf_from_dir(sf_dir))["edges"].select("src", "dst")
        return degree_assortativity_components(e)

    def kg_bfs_distances(spark, sf_dir):
        """Single-source BFS hop distances (graph_analytics.hop_distances)
        from the top-degree entity (ties -> min name): the path-query
        primitive behind closeness/betweenness, exposed directly. The
        oracle is DuckDB's WITH RECURSIVE over the same undirected simple
        graph — a genuinely independent BFS implementation, so this is a
        cross-engine differential of the frontier loop itself. Seed fetch
        is one 1-row driver read; each hop joins only the frontier."""
        from graphrag_litex_spark.operators.graph_analytics import (
            hop_distances,
            undirected_simple,
        )

        e = _kg(spark, _sf_from_dir(sf_dir))["edges"].select("src", "dst")
        und = undirected_simple(e)
        deg = (
            und.select(F.col("a").alias("u"))
            .unionAll(und.select(F.col("b").alias("u")))
            .groupBy("u")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        [seed_row] = deg.orderBy(F.desc("n"), F.asc("u")).limit(1).collect()
        return hop_distances(e, [seed_row["u"]], max_hops=6).select(
            "vertex", F.col("dist").cast("int").alias("dist")
        )

    def kg_two_hop(spark, sf_dir):
        """Two-hop reachability over the merged edges (a -> b -> c, a != c):
        path count + strongest path (product of 6dp-rounded edge strengths,
        re-rounded — both engines multiply identical doubles). The self-join
        shuffles on the hop key; against the published warehouse (edges
        bucketed on src_id) the PROBE side needs no Exchange — only the
        dst_id side shuffles (one Exchange, not two; asserted in
        test_warehouse.py). Top-100 by (n_paths desc, src, dst) keeps the
        contract output bounded."""
        e = _kg(spark, _sf_from_dir(sf_dir))["edges"].select(
            "src", "dst", F.round("strength", 6).alias("s")
        )
        a, b = e.alias("a"), e.alias("b")
        return (
            a.join(b, (F.col("a.dst") == F.col("b.src")) & (F.col("a.src") != F.col("b.dst")))
            .groupBy(F.col("a.src").alias("src"), F.col("b.dst").alias("dst"))
            .agg(
                F.count(F.lit(1)).alias("n_paths"),
                F.round(F.max(F.col("a.s") * F.col("b.s")), 6).alias("best_strength"),
            )
            .orderBy(F.desc("n_paths"), "src", "dst")
            .limit(100)
        )

    def kg_mention_skew_profile(spark, sf_dir):
        """Skew measurement for the KG's hottest aggregation key (the
        mention norm_name stream that merge/linking salt against): heaviest
        keys, row share, and the integer-exact salt-bucket suggestion
        (operators/profiling.key_skew_profile)."""
        from graphrag_litex_spark.operators.profiling import key_skew_profile

        m = _kg(spark, _sf_from_dir(sf_dir))["mentions"]
        return key_skew_profile(m, "norm_name", top_n=20, target_partitions=64)

    def kg_ntriples(spark, sf_dir):
        """RDF N-Triples export surface: label triple per node + relation
        triple per merged edge, deterministic IRIs (sha256-derived entity
        ids, predicate slugs). Map-only projection — the oracle rebuilds
        every line in SQL from the golden canon map + triples."""
        from graphrag_litex_spark.sinks.rdf import kg_to_ntriples

        res = _kg(spark, _sf_from_dir(sf_dir))
        return kg_to_ntriples(res["nodes"], res["edges"])

    def kg_extraction_metrics(spark, sf_dir):
        """Per-conversation build metrics (the queryable face of the
        manifest's lineage+metrics): turns, extracted mentions, resolved
        triples, merged claims — three pre-partitioned groupBys + outer
        joins on conv_id, the health dashboard a pipeline operator
        watches for extraction drift."""
        res = _kg(spark, _sf_from_dir(sf_dir))

        def per_conv(df, key, name):
            return df.groupBy(F.col(key).alias("conv_id")).agg(
                F.count(F.lit(1)).alias(name)
            )

        out = (
            per_conv(res["chunks"], "conv_id", "n_turns")
            # the mentions item view carries the conversation as source_id
            .join(per_conv(res["mentions"], "source_id", "n_mentions"), "conv_id", "left")
            .join(per_conv(res["triples"], "conv_id", "n_triples"), "conv_id", "left")
        )
        return out.select(
            "conv_id",
            "n_turns",
            F.coalesce("n_mentions", F.lit(0)).alias("n_mentions"),
            F.coalesce("n_triples", F.lit(0)).alias("n_triples"),
        )

    def kg_community_modularity(spark, sf_dir):
        """Per-community Newman modularity decomposition at EVERY
        hierarchy level: (level, community_id, e_c intra-edges, d_c member
        degree, q_contrib =
        e_c/m - (d_c/2m)^2, rounded). Sums to the partition's Q — the
        metric the LPA substitute is judged on vs the reference's Louvain
        (operators/communities.modularity); exposed per-community so a
        weak community is attributable, not averaged away. All integer
        counts + one exactly-rounded expression; the grand total m rides a
        broadcast one-row join."""
        kg = _kg(spark, _sf_from_dir(sf_dir))
        e = kg["edges"]
        und = (
            e.select(
                F.least("src_id", "dst_id").alias("a"),
                F.greatest("src_id", "dst_id").alias("b"),
            )
            .where(F.col("a") != F.col("b"))
            .distinct()
        )
        mrow = und.agg(F.count(F.lit(1)).alias("m"))
        sym = und.select(F.col("a").alias("u")).unionAll(und.select(F.col("b").alias("u")))
        deg = sym.groupBy("u").agg(F.count(F.lit(1)).alias("deg"))
        part = kg["communities"].select("level", "community_id", "entity_id")
        d_c = (
            deg.join(part, deg["u"] == part["entity_id"])
            .groupBy("level", "community_id")
            .agg(F.sum("deg").alias("d_c"))
        )
        pu = part.select(
            F.col("level").alias("lu"),
            F.col("entity_id").alias("a"),
            F.col("community_id").alias("cu"),
        )
        pv = part.select(
            F.col("level").alias("lv"),
            F.col("entity_id").alias("b"),
            F.col("community_id").alias("cv"),
        )
        e_c = (
            und.join(pu, "a")
            .join(pv, "b")
            .where((F.col("cu") == F.col("cv")) & (F.col("lu") == F.col("lv")))
            .groupBy(F.col("lu").alias("level"), F.col("cu").alias("community_id"))
            .agg(F.count(F.lit(1)).alias("e_c"))
        )
        return (
            d_c.join(e_c, ["level", "community_id"], "left")
            .select(
                "level",
                "community_id",
                F.coalesce("e_c", F.lit(0)).cast("long").alias("e_c"),
                F.col("d_c").cast("long").alias("d_c"),
            )
            .crossJoin(F.broadcast(mrow))
            .select(
                "level",
                "community_id",
                "e_c",
                "d_c",
                F.round(
                    F.col("e_c") / F.col("m")
                    - F.pow(F.col("d_c") / (F.lit(2.0) * F.col("m")), 2),
                    6,
                ).alias("q_contrib"),
            )
        )

    def kg_entity_aliases(spark, sf_dir):
        """Alias rollup per canonical entity — the queryable face of the
        linking stage (reference entity_resolver merges these implicitly):
        (canonical, n_aliases, aliases '|'-joined in sorted order)."""
        cm = _kg(spark, _sf_from_dir(sf_dir))["canon_map"]
        return cm.groupBy("canonical").agg(
            F.count(F.lit(1)).alias("n_aliases"),
            F.concat_ws("|", F.sort_array(F.collect_list("norm_name"))).alias(
                "aliases"
            ),
        )

    def kg_predicate_stats(spark, sf_dir):
        """Per-predicate profile over resolved triples: observation count,
        conversation spread, exactly-rounded mean/max strength — the
        relation-vocabulary drift dashboard."""
        t = _kg(spark, _sf_from_dir(sf_dir))["triples"]
        return t.groupBy("pred").agg(
            F.count(F.lit(1)).alias("n"),
            F.count_distinct("conv_id").alias("n_convs"),
            F.round(F.avg("strength"), 6).alias("avg_strength"),
            F.max("strength").alias("max_strength"),
        )

    def kg_degree_histogram(spark, sf_dir):
        """Exact degree histogram over the merged edge set -> (degree,
        n_nodes). Output cardinality is the number of DISTINCT degrees —
        thousands at billions of nodes — so the second aggregate is always
        tiny; the skew planner reads the tail of this table."""
        e = _kg(spark, _sf_from_dir(sf_dir))["edges"]
        deg = (
            e.select(F.col("src").alias("name"))
            .unionAll(e.select(F.col("dst").alias("name")))
            .groupBy("name")
            .agg(F.count(F.lit(1)).alias("degree"))
        )
        return deg.groupBy("degree").agg(F.count(F.lit(1)).alias("n_nodes"))

    def _transcripts(spark, sf_dir):
        return spark.read.parquet(
            datagen.ensure_corpus(_sf_from_dir(sf_dir))["transcripts"]
        )

    def conv_stats(spark, sf_dir):
        """Per-conversation shape profile over the raw transcript table
        (operators/transcripts.conversation_stats): turn/role/tool counts,
        chars, exact-integer duration and max inter-turn gap in micros."""
        from graphrag_litex_spark.operators.transcripts import conversation_stats

        return conversation_stats(_transcripts(spark, sf_dir))

    def conv_integrity(spark, sf_dir):
        """Ingest-hygiene validation: turn_idx contiguity (the north-rule
        reassembly precondition), timestamp regressions, null/empty text
        (operators/transcripts.conversation_integrity)."""
        from graphrag_litex_spark.operators.transcripts import conversation_integrity

        return conversation_integrity(_transcripts(spark, sf_dir))

    def conv_entity_salience(spark, sf_dir):
        """Per-conversation distinctive entities: tf-over-df salience in
        truncating integer micro-units (rank order == tf-idf for any
        monotone idf, no libm log), top-3 per conversation. Full value
        compare vs the same window in SQL over the golden mentions."""
        from graphrag_litex_spark.operators.transcripts import (
            conversation_entity_salience,
        )

        kg = _kg(spark, _sf_from_dir(sf_dir))
        mc = (
            kg["mentions"]
            .join(F.broadcast(kg["canon_map"]), "norm_name")
            .select(F.col("source_id").alias("conv_id"), "canonical")
        )
        return conversation_entity_salience(mc, top_k=3)

    def conv_related(spark, sf_dir):
        """Per-conversation top-3 entity-similar neighbors: inverted-index
        self-join on canonical entities, integer-micro Jaccard over the
        distinct-entity sets, symmetrized and ranked per conversation
        (jaccard desc, neighbor asc). min_shared=2 prunes single-entity
        coincidences before the pair aggregate. Full value compare vs the
        identical join+window in SQL over the golden mentions."""
        from graphrag_litex_spark.operators.transcripts import (
            top_related_conversations,
        )

        kg = _kg(spark, _sf_from_dir(sf_dir))
        mc = (
            kg["mentions"]
            .join(F.broadcast(kg["canon_map"]), "norm_name")
            .select(F.col("source_id").alias("conv_id"), "canonical")
        )
        return top_related_conversations(mc, top_k=3, min_shared=2)

    def sft_render(spark, sf_dir):
        """SFT export: each conversation rendered into one ChatML-shaped
        training sample under stable (conv_id, turn_idx) ordering
        (operators/transcripts.render_sft) — the last-mile step from the
        transcript table to a fine-tuning corpus. Full value compare vs
        string_agg of the identical per-turn rendering in SQL."""
        from graphrag_litex_spark.operators.transcripts import render_sft

        return render_sft(_transcripts(spark, sf_dir))

    def sft_loss_spans(spark, sf_dir):
        """Assistant-only loss-mask spans for the SFT rendering: 0-indexed
        [start_char, end_char) of each assistant turn's content, offsets
        from one running-sum window over rendered-turn lengths — integer
        arithmetic, exact in both engines."""
        from graphrag_litex_spark.operators.transcripts import sft_loss_spans as _sp

        return _sp(_transcripts(spark, sf_dir))

    def sft_packed_spans(spark, sf_dir):
        """Packed-batch SFT metadata: whole conversations greedily packed
        into ~2000-token bins (sharded, never split), every assistant loss
        span re-based to the bin's concatenated text — what a trainer
        needs for block-diagonal attention + loss masks without
        re-tokenizing. Integer arithmetic end to end; full value compare
        vs the identical render+pack+offset windows in SQL."""
        from graphrag_litex_spark.operators.transcripts import pack_sft_spans

        return pack_sft_spans(_transcripts(spark, sf_dir), budget=2000)

    def sft_unrolled(spark, sf_dir):
        """Per-turn SFT unrolling: every assistant turn becomes one
        (prompt, completion) sample — prompt is the full preceding context
        plus the opened assistant header (the generation cue), completion
        is the turn's content closed with the end marker. prompt ||
        completion is a prefix of the sft_render text by construction.
        Full value compare vs the identical prefix window in SQL."""
        from graphrag_litex_spark.operators.transcripts import unroll_sft

        return unroll_sft(_transcripts(spark, sf_dir))

    def sft_token_spans(spark, sf_dir):
        """Loss spans in corpus-BPE TOKEN space (HF offset-mapping overlap
        semantics; straddling boundary merges included, never truncated).
        The BPE encode loop is not SQL-expressible, so — like kg_ppmi —
        the driver records the weaker rows-only check here; the integer
        char-span inputs are fully value-checked via sft_loss_spans, the
        tokenization via bpe_merged_lossless, and the span/coverage
        invariants in tests/test_transcripts.py."""
        from graphrag_litex_spark.operators.bpe_ops import train_bpe_merges
        from graphrag_litex_spark.operators.transcripts import (
            render_sft,
            sft_token_spans as _tok,
        )

        tr = _transcripts(spark, sf_dir)
        merges = train_bpe_merges(render_sft(tr), text_col="text", n_merges=256)
        return _tok(tr, merges)

    def conv_sft_quality(spark, sf_dir):
        """Per-conversation SFT-quality gates (assistant fraction, mean
        assistant length, refusal-prefix rate, role-alternation rate,
        ends-with-assistant) — the transcript-specific curation signals an
        SFT pipeline filters on before rendering. One window + one hash
        agg on the conv_id shuffle; full value compare in SQL."""
        from graphrag_litex_spark.operators.transcripts import (
            conversation_sft_quality,
        )

        return conversation_sft_quality(_transcripts(spark, sf_dir))

    def conv_role_transitions(spark, sf_dir):
        """Corpus-wide role-transition grammar under stable (conv_id,
        turn_idx) ordering (operators/transcripts.role_transitions)."""
        from graphrag_litex_spark.operators.transcripts import role_transitions

        return role_transitions(_transcripts(spark, sf_dir))

    def conv_turn_latency(spark, sf_dir):
        """Inter-turn latency profile per (from_role, to_role) transition:
        exact integer-micros gap sums and extrema under stable (conv_id,
        turn_idx) ordering — the agent-ops "how long does each speaker
        take" fingerprint (operators/transcripts.turn_latency). Full value
        compare vs the identical window+aggregate in SQL."""
        from graphrag_litex_spark.operators.transcripts import turn_latency

        return turn_latency(_transcripts(spark, sf_dir))

    def conv_tool_usage(spark, sf_dir):
        """Per-tool usage rollup over tool turns
        (operators/transcripts.tool_usage)."""
        from graphrag_litex_spark.operators.transcripts import tool_usage

        return tool_usage(_transcripts(spark, sf_dir))

    def conv_sessions(spark, sf_dir):
        """Gap-based sessionization of transcripts (temporal.sessionize with
        conv_id key + turn_idx tiebreak): a 1-minute inactivity gap opens a
        new session; per (conv_id, session_idx) -> turn count and integer
        micros bounds. The segmentation step before packing long agent
        sessions into training windows."""
        from graphrag_litex_spark.operators.temporal import sessionize

        tr = _transcripts(spark, sf_dir)
        s = sessionize(
            tr, key_col="conv_id", ts_col="ts", gap_minutes=1.0, order_tiebreak="turn_idx"
        )
        us = F.unix_micros("ts")
        return s.groupBy("conv_id", "session_idx").agg(
            F.count(F.lit(1)).alias("n_turns"),
            F.min(us).alias("start_us"),
            F.max(us).alias("end_us"),
        )

    def conv_prefix_dups(spark, sf_dir):
        """Conversation-level duplicate grouping by exact first-3-turn
        prefix (md5 over chr(31)-joined turn texts), keeper = min conv_id
        (operators/transcripts.conversation_prefix_dups)."""
        from graphrag_litex_spark.operators.transcripts import (
            conversation_prefix_dups,
        )

        return conversation_prefix_dups(_transcripts(spark, sf_dir), k=3)

    def kg_query_topk(spark, sf_dir):
        from graphrag_litex_spark.querying.answer import embed_summaries, select_top_k

        s = _kg(spark, _sf_from_dir(sf_dir))["summaries"]
        return select_top_k(embed_summaries(s), "who acquired acme corp", level=0, k=5).select(
            "level", "community_id", "title", "score"
        )

    # ---- relational operator breadth (TPC-H-ish testdata) ----

    # Money aggregates as exact integer cents: floor(x*100 + 0.5) computes the
    # IDENTICAL double -> integer in Spark and DuckDB (decimal casts differ:
    # Spark rounds HALF_UP, DuckDB half-even), so integer sums hash-match.
    def agg_pricing_summary(spark, sf_dir):
        li = spark.read.parquet(_t(sf_dir, "lineitem"))
        return li.groupBy("l_returnflag", "l_linestatus").agg(
            F.sum(F.col("l_quantity").cast("bigint")).alias("sum_qty"),
            F.sum(F.floor(F.col("l_extendedprice") * 100 + 0.5).cast("bigint")).alias(
                "sum_base_price_cents"
            ),
            F.sum(
                F.floor(
                    F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100 + 0.5
                ).cast("bigint")
            ).alias("sum_disc_price_cents"),
            F.count(F.lit(1)).alias("count_order"),
        )

    def join_customer_orders(spark, sf_dir):
        o = spark.read.parquet(_t(sf_dir, "orders"))
        c = spark.read.parquet(_t(sf_dir, "customer"))
        return (
            o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
            .groupBy("c_nationkey")
            .agg(
                F.count(F.lit(1)).alias("n_orders"),
                F.sum(F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint")).alias(
                    "total_price_cents"
                ),
            )
        )

    def semi_join_customers(spark, sf_dir):
        o = spark.read.parquet(_t(sf_dir, "orders"))
        c = spark.read.parquet(_t(sf_dir, "customer"))
        return (
            c.join(o, c.c_custkey == o.o_custkey, "left_semi")
            .groupBy("c_nationkey")
            .agg(F.count(F.lit(1)).alias("n_customers_with_orders"))
        )

    def anti_join_customers(spark, sf_dir):
        o = spark.read.parquet(_t(sf_dir, "orders"))
        c = spark.read.parquet(_t(sf_dir, "customer"))
        return (
            c.join(o, c.c_custkey == o.o_custkey, "left_anti")
            .groupBy("c_nationkey")
            .agg(F.count(F.lit(1)).alias("n_customers_without_orders"))
        )

    def topk_orders(spark, sf_dir):
        o = spark.read.parquet(_t(sf_dir, "orders"))
        return (
            o.select("o_orderkey", "o_custkey", F.round("o_totalprice", 4).alias("o_totalprice"))
            .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
            .limit(10)
        )

    def window_events(spark, sf_dir):
        from pyspark.sql import Window

        e = spark.read.parquet(_t(sf_dir, "events"))
        w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        return e.select(
            "user_id",
            "event_id",
            F.row_number().over(w).alias("rn"),
            F.round(F.lag("value").over(w), 6).alias("prev_value"),
        )

    # ---- training-data toolbox (documents / embeddings) ----

    def doc_fingerprint(spark, sf_dir):
        from graphrag_litex_spark.operators.text_analysis import fingerprint

        d = spark.read.parquet(_t(sf_dir, "documents"))
        return fingerprint(d)

    def doc_winnow_fp(spark, sf_dir):
        """Rolling-hash winnowing fingerprints, per-doc summary (set size +
        minimum), differential vs the pure-Python golden."""
        from graphrag_litex_spark.operators.text_analysis import winnow_fingerprints

        d = spark.read.parquet(_t(sf_dir, "documents"))
        return (
            winnow_fingerprints(d)
            .groupBy(F.col("id").alias("doc_id"))
            .agg(
                F.count(F.lit(1)).alias("n_fps"),
                F.min("fp").alias("min_fp"),
            )
        )

    def dedup_exact(spark, sf_dir):
        from graphrag_litex_spark.operators.dedup import exact_duplicates

        d = spark.read.parquet(_t(sf_dir, "documents"))
        return exact_duplicates(d).select("text_hash", "n_docs", "representative_id")

    def dedup_normalized(spark, sf_dir):
        from graphrag_litex_spark.operators.dedup import normalized_duplicates

        d = spark.read.parquet(_t(sf_dir, "documents"))
        return normalized_duplicates(d)

    def text_quality(spark, sf_dir):
        from graphrag_litex_spark.operators.text_analysis import quality_features

        d = spark.read.parquet(_t(sf_dir, "documents"))
        return quality_features(d).select(
            "doc_id", "n_tokens", "stopword_ratio", "punct_ratio", "quality_score"
        )

    def lang_id(spark, sf_dir):
        from graphrag_litex_spark.operators.text_analysis import language_id

        d = spark.read.parquet(_t(sf_dir, "documents"))
        return language_id(d).select("doc_id", "lang", "lang_pred")

    def token_stats(spark, sf_dir):
        from graphrag_litex_spark.operators.text_analysis import token_count_col

        d = spark.read.parquet(_t(sf_dir, "documents"))
        return (
            d.withColumn("n_tokens", token_count_col("text"))
            .groupBy("lang")
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.sum("n_tokens").cast("long").alias("total_tokens"),
                # integer-exact mean: floor(total*1e6/n) is the same double ->
                # bigint in Spark and DuckDB (no float-format divergence)
                F.floor(
                    F.sum("n_tokens").cast("double") * 1000000.0 / F.count(F.lit(1))
                ).cast("long").alias("avg_tokens_x1e6"),
            )
        )

    def bpe_token_stats(spark, sf_dir):
        """BPE-ish pretokenizer counts vs whitespace counts, per language."""
        from graphrag_litex_spark.operators.text_analysis import (
            bpe_token_count_col,
            token_count_col,
        )

        d = spark.read.parquet(_t(sf_dir, "documents"))
        return (
            d.withColumn("n_bpe", bpe_token_count_col("text"))
            .withColumn("n_ws", token_count_col("text"))
            .groupBy("lang")
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.sum("n_bpe").cast("long").alias("total_bpe_tokens"),
                F.sum("n_ws").cast("long").alias("total_ws_tokens"),
            )
        )

    def _bpe_tokenized_docs(spark, sf_dir):
        """documents with corpus-trained merged-BPE token arrays (H6/B1 at
        full merge fidelity — operators/bpe_ops.py)."""
        from graphrag_litex_spark.operators.bpe_ops import (
            bpe_tokenize,
            train_bpe_merges,
        )

        d = spark.read.parquet(_t(sf_dir, "documents"))
        merges = train_bpe_merges(d, n_merges=256)
        return bpe_tokenize(d, merges)

    def bpe_merged_lossless(spark, sf_dir):
        """Cross-engine check of BPE's losslessness invariant: the merged
        byte tokens of every document concatenate back to exactly the
        document's UTF-8 bytes, so the token-derived byte count must equal
        DuckDB's strlen(text) — a value-level oracle for an operator whose
        encoding loop itself is not SQL-expressible."""
        return _bpe_tokenized_docs(spark, sf_dir).select(
            "doc_id",
            F.length(F.array_join("bpe_tokens", "")).cast("long").alias("n_bytes"),
        )

    def bpe_merged_token_stats(spark, sf_dir):
        """Merged-token counts per language, value-checked against a
        sequential golden (oracle_docops.bpe_merged_stats_golden): the
        distributed pretoken count + top-V cut + Arrow encode path must
        reproduce the single-process trainer/encoder exactly."""
        return (
            _bpe_tokenized_docs(spark, sf_dir)
            .groupBy("lang")
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.sum("bpe_tokens_count").cast("long").alias("total_merged_tokens"),
            )
        )

    def similarity_topk(spark, sf_dir):
        from graphrag_litex_spark.operators.similarity import brute_force_topk

        e = spark.read.parquet(_t(sf_dir, "embeddings"))
        qvec = e.where(F.col("vec_id") == 0).select("embedding").collect()[0][0]
        return brute_force_topk(e.where(F.col("vec_id") != 0), list(qvec), k=10)

    def knn_join_sample(spark, sf_dir):
        from graphrag_litex_spark.operators.similarity import knn_join

        e = spark.read.parquet(_t(sf_dir, "embeddings"))
        left = e.where(F.col("vec_id") < 20)
        return knn_join(left, e, k=3)

    def embedding_dup_pairs(spark, sf_dir):
        from graphrag_litex_spark.operators.dedup import embedding_cosine_pairs

        e = spark.read.parquet(_t(sf_dir, "embeddings"))
        return embedding_cosine_pairs(e, threshold=0.3)

    def multimodal_features(spark, sf_dir):
        from graphrag_litex_spark.operators.multimodal import docs_as_media, extract_features

        d = spark.read.parquet(_t(sf_dir, "documents"))
        return extract_features(docs_as_media(d)).select("media_id", "kind", "n_bytes")

    def windowed_activity(spark, sf_dir):
        """Sliding-window (10m/5m) per-role activity over the transcripts
        corpus — the streaming aggregation's batch semantics, exact-distinct
        so it is oracle-comparable. Epoch-second window starts (timestamp
        stringification differs across engines)."""
        from graphrag_litex_spark.streaming.incremental import windowed_turn_activity

        tr = spark.read.parquet(_gold(_sf_from_dir(sf_dir), "transcripts"))
        return windowed_turn_activity(tr, exact_distinct=True).select(
            F.unix_timestamp("window_start").cast("long").alias("ws"),
            "role",
            F.col("n_turns").cast("long").alias("n_turns"),
            F.col("n_convs").cast("long").alias("n_convs"),
        )

    def kg_chunks_windowed(spark, sf_dir):
        """B1 full: sliding token windows over multi-window documents."""
        from graphrag_litex_spark.operators.chunking import chunk_documents_windowed

        d = spark.read.parquet(_t(sf_dir, "documents"))
        return chunk_documents_windowed(d, chunk_size=20, overlap=5)

    def kg_chunks_bpe(spark, sf_dir):
        """B1 with the subword (BPE-pretokenizer) tokenizer: window math on
        BPE pretokens, chunk text = exact byte span (joiner '')."""
        from graphrag_litex_spark.operators.chunking import (
            bpe_pretokenizer,
            chunk_documents_windowed,
        )

        d = spark.read.parquet(_t(sf_dir, "documents"))
        return chunk_documents_windowed(
            d, chunk_size=20, overlap=5, tokenizer=bpe_pretokenizer(), joiner=""
        )

    def vector_rag_topk(spark, sf_dir):
        """J5: VectorRAG baseline retrieval (chunk -> embed -> cosine top-k)."""
        from jobs.vector_rag_baseline import embed_chunks, vector_rag_topk as _topk
        from graphrag_litex_spark.operators.chunking import chunk_documents_windowed

        d = spark.read.parquet(_t(sf_dir, "documents"))
        emb = embed_chunks(chunk_documents_windowed(d, chunk_size=20, overlap=5))
        return _topk(emb, "what is this corpus about", k=5).select("chunk_id", "cosine")

    def asof_purchase_click(spark, sf_dir):
        """Distributed AS-OF join (union + last-non-null window, ONE shuffle,
        no range product): each purchase event attached to the same user's
        most recent click at-or-before it. Oracle: DuckDB's native
        ASOF LEFT JOIN. Right side deduped per (user, ts) so the tie winner
        is engine-independent."""
        from pyspark.sql import Window

        from graphrag_litex_spark.operators.temporal import asof_join, ts_micros

        ev = spark.read.parquet(_t(sf_dir, "events"))
        purch = ev.where(F.col("event_type") == "purchase").select(
            "event_id", "user_id", "ts"
        )
        w = Window.partitionBy("user_id", "ts").orderBy(F.col("event_id").desc())
        clicks = (
            ev.where(F.col("event_type") == "click")
            .withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") == 1)
            .select("event_id", "user_id", "ts")
        )
        j = asof_join(purch, clicks, on="user_id", right_cols=["event_id"])
        return j.select(
            "event_id",
            "user_id",
            ts_micros("ts").alias("ts_us"),
            F.col("event_id_r").alias("click_event_id"),
            (ts_micros("ts") - ts_micros("ts_r")).alias("lag_us"),
        )

    def interval_join_clicks(spark, sf_dir):
        """Range join via time-granule equi-join (no nested-loop product):
        every click inside the 30-minute window after a same-user purchase.
        Oracle: DuckDB's native range-predicate join."""
        from graphrag_litex_spark.operators.temporal import interval_join, ts_micros

        ev = spark.read.parquet(_t(sf_dir, "events"))
        clicks = ev.where(F.col("event_type") == "click").select(
            F.col("event_id").alias("click_id"), "user_id", "ts"
        )
        purch = ev.where(F.col("event_type") == "purchase").select(
            F.col("event_id").alias("purchase_id"),
            "user_id",
            F.col("ts").alias("start"),
            (F.col("ts") + F.expr("INTERVAL 30 MINUTES")).alias("end"),
        )
        j = interval_join(clicks, purch, on="user_id", bucket_minutes=30.0)
        return j.select(
            "click_id",
            "user_id",
            "purchase_id",
            (ts_micros("ts") - ts_micros("start")).alias("delta_us"),
        ).orderBy("click_id", "purchase_id")

    def event_sessions(spark, sf_dir):
        """Gap-based sessionization (6h gap) -> per-session stats. The
        money sums run in decimal so both engines are bit-exact; cents as
        BIGINT avoids decimal-rendering drift in the value hash."""
        from graphrag_litex_spark.operators.temporal import session_stats, ts_micros

        ev = spark.read.parquet(_t(sf_dir, "events")).withColumn(
            "value_d", F.col("value").cast("decimal(14,2)")
        )
        s = session_stats(
            ev, gap_minutes=360.0, value_col="value_d", order_tiebreak="event_id"
        )
        return s.select(
            "user_id",
            F.col("session_idx").cast("long").alias("session_idx"),
            ts_micros("session_start").alias("start_us"),
            ts_micros("session_end").alias("end_us"),
            F.col("n_events").cast("long").alias("n_events"),
            (F.col("total_value") * 100).cast("long").alias("total_cents"),
        )

    def pii_scrub(spark, sf_dir):
        """PII redaction: map-only regex scrub + per-category counts (the
        testdata corpus is PII-free by construction, so redaction must be
        the identity here — the adversarial inputs live in tests/test_scrub
        units; this query value-compares the full redacted text + counts)."""
        from graphrag_litex_spark.operators.scrub import pii_scrub as _scrub

        d = spark.read.parquet(_t(sf_dir, "documents"))
        out = _scrub(d)
        longs = [F.col(c).cast("long").alias(c) for c in out.columns if c.startswith("n_")]
        return out.select("doc_id", "text_redacted", *longs)

    def boilerplate_segments(spark, sf_dir):
        """Sentence-frequency boilerplate detection over the transcript
        corpus (template sentences recur across turns): segments present in
        >= max(2, 1% of turns) distinct turns."""
        from graphrag_litex_spark.operators.scrub import (
            boilerplate_segments as _boiler,
        )

        tr = spark.read.parquet(_gold(_sf_from_dir(sf_dir), "transcripts"))
        docs = tr.select(
            F.concat_ws("_", "conv_id", "turn_idx").alias("doc_id"), "text"
        )
        return _boiler(docs, min_doc_frac=0.01, min_docs=2)

    def repetition_stats(spark, sf_dir):
        """Gopher-style within-document repetition signals (dup-word frac,
        top-word frac, dup-segment frac)."""
        from graphrag_litex_spark.operators.scrub import repetition_stats as _rep

        d = spark.read.parquet(_t(sf_dir, "documents"))
        return _rep(d)

    def ngram_repetition(spark, sf_dir):
        """Gopher n-gram repetition signals (top-2/3/4-gram and dup-5/10-
        gram character coverage, Rae et al. 2021 §A1.1): one zero-shuffle
        Arrow kernel pass, one Counter per document. Full value compare vs
        the relational n-gram enumeration in SQL (list_slice +
        generate_series, ``NGRAM_REPETITION_SQL``)."""
        from graphrag_litex_spark.operators.scrub import ngram_repetition_stats

        d = spark.read.parquet(_t(sf_dir, "documents"))
        return ngram_repetition_stats(d).orderBy("doc_id")

    def decontamination(spark, sf_dir):
        """Train/test overlap audit: winnow-fingerprint contamination of a
        held-out slice (doc_id < 50) against the remaining corpus as
        training data. The test side is measured-small (a benchmark suite,
        not a corpus), so the broadcast valve keeps the corpus-side
        fingerprints shuffle-free past the winnow. Oracle = the same join
        over the bit-exact pure-Python winnow fingerprint golden."""
        from graphrag_litex_spark.operators.scrub import decontaminate

        d = spark.read.parquet(_t(sf_dir, "documents"))
        return decontaminate(
            d.where("doc_id < 50"), d.where("doc_id >= 50"), broadcast_test=True
        )

    def sample_deterministic(spark, sf_dir):
        """Reproducible hash-threshold sampling: membership is a pure
        function of doc_id (md5-prefix compare), invariant to partitioning,
        resume, and engine — asserted by the oracle selecting the identical
        subset."""
        from graphrag_litex_spark.operators.sampling import deterministic_sample

        d = spark.read.parquet(_t(sf_dir, "documents"))
        return deterministic_sample(d, rate=0.25).select("doc_id", "lang")

    def sample_stratified(spark, sf_dir):
        """Per-language keep rates (corpus mixture control), same
        deterministic key so rate changes are nested."""
        from graphrag_litex_spark.operators.sampling import stratified_sample

        d = spark.read.parquet(_t(sf_dir, "documents"))
        return stratified_sample(
            d, rates={"en": 0.5, "de": 1.0}, strata_col="lang", default_rate=0.1
        ).select("doc_id", "lang")

    def corpus_profile(spark, sf_dir):
        """Per-language corpus shape profile (exact interpolated
        percentiles; swap to approx_percentile at 100 TB)."""
        from graphrag_litex_spark.operators.sampling import corpus_profile as _prof

        d = spark.read.parquet(_t(sf_dir, "documents"))
        return _prof(d, group_col="lang")

    def corpus_splits(spark, sf_dir):
        """Deterministic train/val/test assignment (cumulative hex ranges
        over the md5 sampling key); id-sum checksum makes the value compare
        sensitive to any membership difference."""
        from graphrag_litex_spark.operators.sampling import assign_splits

        d = spark.read.parquet(_t(sf_dir, "documents"))
        return (
            assign_splits(d, {"train": 0.8, "val": 0.1, "test": 0.1})
            .groupBy("split")
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.sum("doc_id").cast("long").alias("id_checksum"),
            )
        )

    def pack_bins(spark, sf_dir):
        """Greedy sequence packing into 256-token bins, sharded 16-way so
        no global sort serializes the corpus; per-bin fill accounting."""
        from graphrag_litex_spark.operators.sampling import pack_greedy, pack_stats

        d = spark.read.parquet(_t(sf_dir, "documents"))
        return pack_stats(pack_greedy(d, budget=256), budget=256)

    def image_dup_pairs(spark, sf_dir):
        """Perceptual image near-dup: deterministic fixture renders (PPM +
        BMP containers, planted single-pixel edits) -> real decode -> dHash
        -> pigeonhole-banded Hamming join. Golden is a brute-force
        pure-Python dHash over the same pixels — banding must equal brute
        exactly (zero false negatives by construction)."""
        from graphrag_litex_spark.operators.multimodal import (
            dhash_near_dup_pairs,
            image_dhash,
            media_fixture_from_docs,
        )

        d = spark.read.parquet(_t(sf_dir, "documents"))
        pairs = dhash_near_dup_pairs(
            image_dhash(media_fixture_from_docs(d)), max_hamming=4
        )
        return pairs.select("id_a", "id_b", F.col("hamming").cast("int").alias("hamming"))

    def doc_clusters(spark, sf_dir):
        """Deterministic embedding clustering (IVF coarse quantizer as a
        first-class curation op — the grouping behind SemDeDup / cluster-
        balanced sampling): argmax-cosine assignment is ONE codegen
        expression, per-cluster stats one hash agg. Mean centroid-cosine is
        carried as 6dp integer micro-units so the mean is a single
        exactly-rounded division in both engines. Golden: pure-Python
        sequential replica (oracle_docops.doc_clusters_golden)."""
        from graphrag_litex_spark.operators.similarity import ivf_assign, ivf_centroids

        emb = spark.read.parquet(_t(sf_dir, "embeddings"))
        cents = ivf_centroids(emb, 8)
        assigned = ivf_assign(emb, cents, out_col="cluster_id", score_col="_s")
        base = assigned.select(
            "vec_id",
            "cluster_id",
            F.round(F.round(F.col("_s"), 6) * 1e6, 0).cast("long").alias("q"),
        )
        return base.groupBy("cluster_id").agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.min("vec_id").alias("min_vec_id"),
            F.round(F.sum("q") / F.count(F.lit(1)) / F.lit(1e6), 6).alias("mean_cos"),
        )

    def cluster_balanced_ids(spark, sf_dir):
        """Cluster-balanced downsample of the embeddings table (<=5 kept
        per IVF cluster by the deterministic md5 order — the diversity-
        preserving post-SemDeDup sampling step). Golden: pure-Python
        sequential replica."""
        from graphrag_litex_spark.operators.sampling import cluster_balanced_sample

        emb = spark.read.parquet(_t(sf_dir, "embeddings"))
        return cluster_balanced_sample(
            emb.select("vec_id"), emb, per_cluster=5, n_clusters=8, id_col="vec_id"
        )

    def audio_dup_pairs(spark, sf_dir):
        """Perceptual audio near-dup: fixture WAV signals (planted edits)
        -> real PCM decode -> integer energy-gradient fingerprint -> the
        same pigeonhole Hamming banding as images. Golden is brute-force
        pure-Python fingerprinting over the same signals."""
        from graphrag_litex_spark.operators.multimodal import (
            audio_fingerprint,
            audio_fixture_from_docs,
            dhash_near_dup_pairs,
        )

        d = spark.read.parquet(_t(sf_dir, "documents"))
        pairs = dhash_near_dup_pairs(
            audio_fingerprint(audio_fixture_from_docs(d)),
            max_hamming=6,
            hash_col="fingerprint",
        )
        return pairs.select("id_a", "id_b", F.col("hamming").cast("int").alias("hamming"))

    def dup_span_stats(spark, sf_dir):
        """ExactSubstr-style exposure: per-doc fraction of tokens inside
        corpus-repeated 8-token windows; golden vs bit-exact pure-Python
        replica (oracle_docops.span_stats_golden)."""
        from graphrag_litex_spark.operators.span_dedup import duplicate_span_stats

        d = spark.read.parquet(_t(sf_dir, "documents"))
        s = duplicate_span_stats(d, k=8)
        return s.select(
            "doc_id",
            F.col("n_tok").cast("long").alias("n_tok"),
            F.col("n_windows").cast("long").alias("n_windows"),
            "n_dup_windows",
            "dup_tokens",
            "dup_token_frac",
        )

    def dup_span_removal(spark, sf_dir):
        """ExactSubstr span excision (Lee et al. 2022): every non-keeper
        occurrence of a corpus-repeated 8-token window removed, keeper =
        globally-first occurrence; golden vs pure-Python replica."""
        from graphrag_litex_spark.operators.span_dedup import remove_duplicate_spans

        d = spark.read.parquet(_t(sf_dir, "documents"))
        r = remove_duplicate_spans(d, k=8)
        return r.select(
            "doc_id", "text", F.col("n_tok").cast("long").alias("n_tok"), "removed_tokens"
        )

    # Rows-only scale paths (LSH internals aren't ANSI-SQL expressible):
    def dedup_minhash_lsh(spark, sf_dir):
        from graphrag_litex_spark.operators.dedup import minhash_lsh_candidates

        d = spark.read.parquet(_t(sf_dir, "documents"))
        return minhash_lsh_candidates(d, jaccard_threshold=0.5)

    def dedup_keeper_map(spark, sf_dir):
        """Component-level keeper assignment over the MinHash-LSH pairs
        (pairs -> CC -> (doc_id, keeper_id)); golden vs pure-Python
        union-find."""
        from graphrag_litex_spark.operators.dedup import duplicate_keeper_map

        d = spark.read.parquet(_t(sf_dir, "documents"))
        return duplicate_keeper_map(d, jaccard_threshold=0.5)

    def dedup_incremental(spark, sf_dir):
        """Incremental near-dup dedup against a persisted MinHash index:
        the index is built over old docs (doc_id %% 5 != 0), the increment
        (doc_id %% 5 == 0) probes the band table and is verified with the
        signature estimator — old documents' text is never re-shingled.
        Golden vs bit-exact pure-Python replica."""
        import tempfile

        from graphrag_litex_spark.operators.dedup import (
            build_dedup_index,
            incremental_dedup_pairs,
        )

        d = spark.read.parquet(_t(sf_dir, "documents"))
        idx = tempfile.mkdtemp(prefix="graft_dedup_idx_")
        build_dedup_index(d.where(F.col("doc_id") % 5 != 0), idx)
        return incremental_dedup_pairs(
            d.where(F.col("doc_id") % 5 == 0), idx, est_threshold=0.5
        )

    def dedup_keeper_map_altcc(spark, sf_dir):
        """Same keeper map computed through the distributed large-star/
        small-star CC loop (Kiveris et al. 2014; driver_threshold=0 forces
        the distributed path, so the driver's gate hash-checks the O(log n)
        algorithm — the scale path for chained near-dup graphs — against
        the identical union-find golden."""
        from graphrag_litex_spark.operators.dedup import duplicate_keeper_map

        d = spark.read.parquet(_t(sf_dir, "documents"))
        return duplicate_keeper_map(d, jaccard_threshold=0.5, cc_driver_threshold=0)

    def dedup_simhash(spark, sf_dir):
        from graphrag_litex_spark.operators.dedup import simhash_duplicates

        d = spark.read.parquet(_t(sf_dir, "documents"))
        # scalar projection only: the driver's row canonicalizer can't sort
        # array columns (round-1 crash), same shape as dedup_exact
        return simhash_duplicates(d).select(
            "simhash",
            F.col("n_docs").cast("long").alias("n_docs"),
            F.array_min("doc_ids").alias("representative_id"),
        )

    def dedup_ngram_jaccard(spark, sf_dir):
        from graphrag_litex_spark.operators.dedup import ngram_jaccard_pairs

        d = spark.read.parquet(_t(sf_dir, "documents"))
        return ngram_jaccard_pairs(d, threshold=0.5, block_col="lang")

    def source_reputation_profile(spark, sf_dir):
        """Domain-level reputation: per-source doc counts + exact-integer
        average quality + low-quality share (sampling.source_reputation) —
        the RefinedWeb 'URL-level filtering' decision table."""
        from graphrag_litex_spark.operators.sampling import source_reputation

        d = spark.read.parquet(_t(sf_dir, "documents"))
        return source_reputation(d)

    def trigram_novelty_scores(spark, sf_dir):
        """CCNet-style LM quality signal in exact arithmetic: per-doc
        fraction of char-trigram occurrences rare in the corpus model
        (bounded-vocabulary broadcast model — text_analysis.trigram_novelty;
        the ln-based trigram_logprob is its unoracled FP twin)."""
        from graphrag_litex_spark.operators.text_analysis import trigram_novelty

        d = spark.read.parquet(_t(sf_dir, "documents"))
        return trigram_novelty(d, rare_threshold=10)

    def tfidf_similar_docs(spark, sf_dir):
        """Sparse all-pairs TF-IDF document similarity: df-filtered tf
        vectors, integer-exact dot/norms, one exactly-rounded cosine
        (operators/tfidf.similar_docs; max_df is the quadratic-cost
        valve)."""
        from graphrag_litex_spark.operators.tfidf import similar_docs

        d = spark.read.parquet(_t(sf_dir, "documents"))
        out = similar_docs(d, min_df=2, max_df=250)
        return out.orderBy(F.col("cosine").desc(), "doc_a", "doc_b").limit(20)

    def ann_lsh_topk(spark, sf_dir):
        from graphrag_litex_spark.operators.similarity import lsh_bucketed_topk

        e = spark.read.parquet(_t(sf_dir, "embeddings"))
        qvec = e.where(F.col("vec_id") == 0).select("embedding").collect()[0][0]
        return lsh_bucketed_topk(e.where(F.col("vec_id") != 0), list(qvec), k=10, planes=4)

    def ann_ivf_topk(spark, sf_dir):
        from graphrag_litex_spark.operators.similarity import ivf_topk

        e = spark.read.parquet(_t(sf_dir, "embeddings"))
        qvec = e.where(F.col("vec_id") == 0).select("embedding").collect()[0][0]
        return ivf_topk(e.where(F.col("vec_id") != 0), list(qvec), k=10, n_centroids=8, nprobe=2)

    def ann_pq_topk(spark, sf_dir):
        """Product-quantization ANN: deterministic PQ codebooks, codegen'd
        encode, asymmetric-distance (ADC) top-k over the codes table."""
        from graphrag_litex_spark.operators.similarity import (
            pq_adc_topk,
            pq_codebooks,
            pq_encode,
        )

        e = spark.read.parquet(_t(sf_dir, "embeddings"))
        qvec = [float(x) for x in e.where(F.col("vec_id") == 0).collect()[0]["embedding"]]
        corpus = e.where(F.col("vec_id") != 0)
        books = pq_codebooks(corpus, m=8, ksub=16)
        return pq_adc_topk(pq_encode(corpus, books), qvec, books, k=10)

    def sample_mixture(spark, sf_dir):
        """Token-budgeted mixture sampling (data mixing): per-source greedy
        prefix under a deterministic md5 ordering, cumulative-token gated.
        Oracle: the same window cumsum in SQL."""
        from graphrag_litex_spark.operators.iterutils import scale_out
        from graphrag_litex_spark.operators.sampling import sample_mixture_by_tokens
        from graphrag_litex_spark.operators.text_analysis import token_count_col

        # Fan the one-file scan out BEFORE the token-count projection so the
        # per-row normalization runs on every core (results unchanged).
        d = scale_out(spark.read.parquet(_t(sf_dir, "documents")), "doc_id").withColumn(
            "n_tokens", token_count_col("text").cast("long")
        )
        out = sample_mixture_by_tokens(
            d, {"src0": 300, "src1": 120, "src2": 0, "src3": 10_000_000}
        )
        return out.select(
            "doc_id", "source", "n_tokens", "cum_tokens"
        ).orderBy("doc_id")

    def quality_classifier(spark, sf_dir):
        """fastText-style hashed-ngram linear quality model (inference):
        integer-quantized weights as a broadcast table, exact-ratio logit."""
        from graphrag_litex_spark.operators.text_analysis import (
            hash_weights,
            quality_classifier_scores,
        )

        d = spark.read.parquet(_t(sf_dir, "documents"))
        w = hash_weights(spark, 4096)
        return quality_classifier_scores(d, w, n_buckets=4096).orderBy("doc_id")

    def zorder_events(spark, sf_dir):
        """Morton keys for multi-column data skipping (operators/zorder.py,
        the Delta OPTIMIZE ZORDER idiom): (value, user_id) rank-bucketed to
        8 bits each via min-max scaling and bit-interleaved into one long —
        sorting a write on this key gives every file tight min-max stats on
        BOTH columns. Full value compare vs the identical bit expression in
        SQL."""
        from graphrag_litex_spark.operators.zorder import zorder_key

        e = spark.read.parquet(_t(sf_dir, "events"))
        return zorder_key(e, ["value", "user_id"], bits=8).select(
            "event_id", "zkey"
        )

    def embedding_sq8(spark, sf_dir):
        """Int8 scalar quantization of the embedding column: per-vector
        symmetric scale (max|x|/127) + rounded int codes — 4x embedding
        storage compression (operators/similarity.sq8_quantize). Codes are
        integer-exact across engines (HALF_UP == away-from-zero on the
        identical IEEE divisions), so this is a full value compare; scale
        reports as integer micro-units."""
        from graphrag_litex_spark.operators.similarity import sq8_quantize

        e = spark.read.parquet(_t(sf_dir, "embeddings"))
        return sq8_quantize(e).select(
            "vec_id",
            F.round(F.col("scale") * 1e6).cast("long").alias("scale_micro"),
            "q",
        )

    def embedding_pca(spark, sf_dir):
        """Distributed PCA: one-pass Arrow-batched moment aggregation ->
        driver eigendecomposition -> whitened top-4 projection as a single
        codegen'd literal-matrix expression (operators/pca.py). Rows/schema
        check only — an eigendecomposition has no ANSI-SQL oracle; the
        value-level witnesses are the numpy differential tests
        (tests/test_pca.py: moments/eigvecs vs numpy, projected variance ==
        eigenvalues, whitened variance == 1, repartition determinism)."""
        from graphrag_litex_spark.operators.pca import pca_model, project_embeddings

        e = spark.read.parquet(_t(sf_dir, "embeddings"))
        model = pca_model(e, k=4)
        return (
            project_embeddings(e, model, whiten=True)
            .select("vec_id", "proj")
            .orderBy("vec_id")
        )

    def semantic_dedup(spark, sf_dir):
        """SemDeDup: IVF-cluster embeddings, prune within-cluster near-dups
        (keep the farthest-from-centroid member of each duplicate group)."""
        from graphrag_litex_spark.operators.dedup import semantic_dedup as _semdedup

        e = spark.read.parquet(_t(sf_dir, "embeddings"))
        return _semdedup(e, n_clusters=8, threshold=0.3).orderBy("doc_id")

    for fn in (
        kg_triples_agg,
        kg_canon_map,
        kg_nodes_agg,
        kg_edges_merged,
        kg_claims_agg,
        kg_chunks,
        kg_reassembly,
        kg_top_entities_by_degree,
        kg_communities,
        kg_community_stats,
        kg_summaries,
        kg_query_topk,
        kg_entity_rank,
        kg_blocking_quality,
        kg_threshold_sweep,
        kg_related_entities,
        kg_local_search,
        kg_local_context,
        kg_drift_search,
        kg_sparsified,
        kg_rerank_context,
        kg_triangle_stats,
        kg_link_prediction,
        kg_kcore,
        kg_ktruss,
        kg_wl_roles,
        kg_component_sizes,
        kg_neighborhood_function,
        kg_shortest_path,
        kg_closeness,
        kg_betweenness,
        kg_global_search,
        kg_edge_history,
        kg_edges_decayed,
        kg_two_hop,
        kg_ntriples,
        kg_extraction_metrics,
        kg_mention_skew_profile,
        kg_community_modularity,
        kg_entity_aliases,
        kg_predicate_stats,
        kg_degree_histogram,
        kg_asof_edges,
        kg_entity_timeline,
        kg_snapshot_diff,
        kg_integrity_report,
        kg_negative_samples,
        kg_negative_samples_subj,
        kg_random_walks,
        kg_node2vec_walks,
        kg_walk_cooccurrence,
        kg_ppmi,
        kg_ontology,
        kg_metapaths,
        kg_filtered_triples,
        kg_type_cooccurrence,
        kg_assortativity,
        kg_bfs_distances,
        conv_stats,
        conv_integrity,
        conv_entity_salience,
        conv_related,
        sft_render,
        sft_loss_spans,
        sft_packed_spans,
        sft_unrolled,
        sft_token_spans,
        conv_sft_quality,
        conv_role_transitions,
        conv_turn_latency,
        conv_tool_usage,
        conv_prefix_dups,
        conv_sessions,
        agg_pricing_summary,
        join_customer_orders,
        semi_join_customers,
        anti_join_customers,
        topk_orders,
        window_events,
        doc_fingerprint,
        doc_winnow_fp,
        dedup_exact,
        dedup_normalized,
        text_quality,
        lang_id,
        token_stats,
        bpe_token_stats,
        bpe_merged_lossless,
        bpe_merged_token_stats,
        similarity_topk,
        knn_join_sample,
        embedding_dup_pairs,
        zorder_events,
        embedding_sq8,
        embedding_pca,
        semantic_dedup,
        quality_classifier,
        ann_pq_topk,
        sample_mixture,
        multimodal_features,
        windowed_activity,
        asof_purchase_click,
        interval_join_clicks,
        event_sessions,
        pii_scrub,
        boilerplate_segments,
        repetition_stats,
        ngram_repetition,
        decontamination,
        sample_deterministic,
        sample_stratified,
        corpus_profile,
        corpus_splits,
        pack_bins,
        dup_span_stats,
        dup_span_removal,
        image_dup_pairs,
        audio_dup_pairs,
        doc_clusters,
        cluster_balanced_ids,
        kg_chunks_windowed,
        kg_chunks_bpe,
        vector_rag_topk,
        dedup_minhash_lsh,
        dedup_keeper_map,
        dedup_keeper_map_altcc,
        dedup_incremental,
        dedup_simhash,
        dedup_ngram_jaccard,
        source_reputation_profile,
        trigram_novelty_scores,
        tfidf_similar_docs,
        ann_lsh_topk,
        ann_ivf_topk,
    ):
        q[fn.__name__] = fn
    return q


# --------------------------------------------------------------------------
# oracle_sql: DuckDB equivalents (driver runs these at sf=0.01)
# --------------------------------------------------------------------------


def oracle_sql() -> dict[str, str]:
    sf = 0.01
    triples = _gold(sf, "golden_triples")
    mentions = _gold(sf, "golden_mentions")
    canon = _gold(sf, "golden_canon_map")
    claims = _gold(sf, "golden_claims")
    transcripts = _gold(sf, "transcripts") + "/*.parquet"  # multi-file table dir
    norm_ename = _DDB_NORM.format(col="c.ename")

    # zorder_events: the identical Morton bit-interleave built term by term
    # (8 bits x 2 cols), over the same min-max bucketing arithmetic — the
    # floor/IEEE-division sequence matches operators/zorder.py exactly.
    def _zterms(bcol: str, ncols: int, idx: int, bits: int) -> str:
        return " | ".join(
            f"((({bcol} >> {bit}) & 1) << {bit * ncols + idx})"
            for bit in range(bits)
        )

    zorder_events_sql = f"""
        WITH b AS (
            SELECT min(cast(value AS double)) AS lo0,
                   max(cast(value AS double)) AS hi0,
                   min(cast(user_id AS double)) AS lo1,
                   max(cast(user_id AS double)) AS hi1
            FROM events
        ), k AS (
            SELECT event_id,
                   CASE WHEN value IS NULL OR hi0 - lo0 <= 0 THEN 0
                        ELSE least(greatest(cast(floor(
                            (cast(value AS double) - lo0) / (hi0 - lo0) * 255.0
                        ) AS bigint), 0), 255) END AS b0,
                   CASE WHEN user_id IS NULL OR hi1 - lo1 <= 0 THEN 0
                        ELSE least(greatest(cast(floor(
                            (cast(user_id AS double) - lo1) / (hi1 - lo1) * 255.0
                        ) AS bigint), 0), 255) END AS b1
            FROM events, b
        )
        SELECT event_id,
               cast({_zterms("b0", 2, 0, 8)} | {_zterms("b1", 2, 1, 8)}
                    AS bigint) AS zkey
        FROM k
    """

    # Pure-Python goldens for the LSH family over the driver testdata tables
    # (xxhash64 replicated bit-for-bit in functions/xxh64.py; cached on disk).
    from graphrag_litex_spark.oracle_docops import ensure_docops_goldens

    docops = ensure_docops_goldens(
        "/root/testdata/sf0.01", os.path.join(REPO, "data", "gen", "docops_sf0.01")
    )
    # Pure-Python goldens for the community path (LPA + hierarchy + stats +
    # summaries + query top-k), derived from the KG goldens (oracle_graph.py).
    from graphrag_litex_spark.oracle_graph import ensure_graph_goldens

    graph = ensure_graph_goldens(_CORPUS.setdefault(sf, datagen.ensure_corpus(sf)))

    pred_key = "lpad(cast(length(pred) as varchar), 6, '0') || pred"

    # PII oracle: the SAME pattern strings and replacement order as
    # operators/scrub.PII_PATTERNS, interpolated (never hand-copied).
    from graphrag_litex_spark.operators.scrub import PII_PATTERNS, SEGMENT_SPLIT_RE

    pii_red = "text"
    pii_counts = []
    for _pn, _pp in PII_PATTERNS:
        _lit = _pp.replace("'", "''")
        pii_counts.append(
            f"cast(len(regexp_extract_all(text, '{_lit}')) AS bigint) AS n_{_pn}"
        )
        pii_red = f"regexp_replace({pii_red}, '{_lit}', '<{_pn.upper()}>', 'g')"
    pii_counts_sql = ",\n                   ".join(pii_counts)
    pii_total_sql = " + ".join(f"n_{n}" for n, _ in PII_PATTERNS)
    seg_lit = SEGMENT_SPLIT_RE.replace("'", "''")
    ddb_segments = (
        f"list_filter(list_transform(string_split_regex(text, '{seg_lit}'), "
        "x -> trim(x)), x -> x <> '')"
    )

    # Sampling thresholds interpolated from the SAME helper the Spark
    # operators use, so the two engines' keep sets can never drift.
    from graphrag_litex_spark.operators.sampling import _HEX_DIGITS, _hex_threshold

    samp_key = f"substr(md5(cast(doc_id AS varchar)), 1, {_HEX_DIGITS})"
    thr_25 = _hex_threshold(0.25)
    strat_case = (
        f"CASE WHEN lang = 'en' THEN '{_hex_threshold(0.5)}' "
        f"WHEN lang = 'de' THEN '{_hex_threshold(1.0)}' "
        f"ELSE '{_hex_threshold(0.1)}' END"
    )
    from graphrag_litex_spark.operators.transcripts import REFUSAL_PREFIXES

    _DDB_REFUSAL = " OR ".join(
        "starts_with(lower(coalesce(text, '')), '"
        + p.replace("'", "''")
        + "')"
        for p in REFUSAL_PREFIXES
    )

    ddb_ntokens = (
        f"CASE WHEN {_DDB_TEXT_NORM} = '' THEN 0 "
        f"ELSE len(string_split({_DDB_TEXT_NORM}, ' ')) END"
    )

    return {
        # ---- KG pipeline: differential vs single-process golden outputs ----
        "kg_triples_agg": f"""
            SELECT subj, pred, obj, count(*) AS n,
                   round(avg(strength), 6) AS avg_strength
            FROM read_parquet('{triples}')
            GROUP BY subj, pred, obj
        """,
        "kg_canon_map": f"""
            SELECT norm_name, canonical FROM read_parquet('{canon}')
        """,
        # Blocking eval: replicate first-token blocks + char-3-gram Jaccard
        # over the distinct golden norm names; truncating integer division
        # (// on non-negative bigints) matches Spark's `div` micro-units.
        "kg_blocking_quality": f"""
            WITH names AS (
                SELECT DISTINCT norm_name FROM read_parquet('{mentions}')
                WHERE norm_name <> ''
            ), keyed AS (
                SELECT norm_name,
                       string_split(norm_name, ' ')[1] AS block,
                       CASE WHEN length(norm_name) < 3 THEN [norm_name]
                            ELSE list_distinct(list_transform(
                                range(1, length(norm_name) - 1),
                                i -> substring(norm_name, i, 3)))
                       END AS feat
                FROM names
            ), pairs AS (
                SELECT CASE WHEN a.block = b.block THEN 1 ELSE 0 END AS same_block,
                       CASE WHEN (CASE WHEN len(list_distinct(list_concat(a.feat, b.feat))) = 0
                                       THEN 1.0
                                       ELSE len(list_intersect(a.feat, b.feat)) * 1.0
                                            / len(list_distinct(list_concat(a.feat, b.feat)))
                                  END) >= 0.40 THEN 1 ELSE 0 END AS is_match
                FROM keyed a JOIN keyed b ON a.norm_name < b.norm_name
            ), pa AS (
                SELECT cast(count(*) AS bigint) AS all_pairs,
                       cast(sum(same_block) AS bigint) AS candidate_pairs,
                       cast(sum(is_match) AS bigint) AS match_pairs,
                       cast(sum(same_block * is_match) AS bigint) AS matches_blocked
                FROM pairs
            ), na AS (
                SELECT cast(count(*) AS bigint) AS n_names,
                       cast(count(DISTINCT block) AS bigint) AS n_blocks
                FROM keyed
            )
            SELECT n_names, n_blocks, all_pairs, candidate_pairs,
                   match_pairs, matches_blocked,
                   cast(CASE WHEN match_pairs = 0 THEN 1000000
                             ELSE (matches_blocked * 1000000) // match_pairs
                        END AS bigint) AS pair_completeness_micro,
                   cast(CASE WHEN all_pairs = 0 THEN 0
                             ELSE ((all_pairs - candidate_pairs) * 1000000) // all_pairs
                        END AS bigint) AS reduction_ratio_micro
            FROM na, pa
        """,
        # Related-entities RRF: replicate the three anchored rankings and
        # the truncating-integer fusion; anchor = top-degree entity
        # (ties -> min name) over the triples-derived undirected graph.
        "kg_related_entities": f"""
            WITH tri AS (
                SELECT subj, obj FROM read_parquet('{triples}')
            ), und AS (
                SELECT DISTINCT least(subj, obj) AS a, greatest(subj, obj) AS b
                FROM tri WHERE subj <> obj
            ), deg AS (
                SELECT u, count(*) AS d FROM (
                    SELECT a AS u FROM und UNION ALL SELECT b FROM und)
                GROUP BY u
            ), anchor AS (
                SELECT u AS av FROM deg ORDER BY d DESC, u ASC LIMIT 1
            ), s1 AS (
                SELECT CASE WHEN subj = (SELECT av FROM anchor) THEN obj
                            ELSE subj END AS name,
                       count(*) AS w
                FROM tri
                WHERE (subj = (SELECT av FROM anchor)
                       OR obj = (SELECT av FROM anchor))
                  AND subj <> obj
                GROUP BY 1
            ), adj AS (
                SELECT a AS u, b AS v FROM und UNION ALL SELECT b, a FROM und
            ), na AS (
                SELECT v AS n FROM adj WHERE u = (SELECT av FROM anchor)
            ), s2 AS (
                SELECT adj.v AS name, count(*) AS w
                FROM na JOIN adj ON adj.u = na.n
                WHERE adj.v <> (SELECT av FROM anchor)
                GROUP BY adj.v
            ), m AS (
                SELECT DISTINCT conv_id || '_' || cast(turn_idx AS varchar)
                           AS chunk_id,
                       canonical
                FROM read_parquet('{mentions}') WHERE norm_name <> ''
            ), s3 AS (
                SELECT m2.canonical AS name, count(*) AS w
                FROM m m1 JOIN m m2 USING (chunk_id)
                WHERE m1.canonical = (SELECT av FROM anchor)
                  AND m2.canonical <> (SELECT av FROM anchor)
                GROUP BY m2.canonical
            ), uni AS (
                SELECT name, rnk FROM (
                    SELECT name, row_number() OVER (ORDER BY w DESC, name ASC)
                               AS rnk FROM s1) WHERE rnk <= 100
                UNION ALL
                SELECT name, rnk FROM (
                    SELECT name, row_number() OVER (ORDER BY w DESC, name ASC)
                               AS rnk FROM s2) WHERE rnk <= 100
                UNION ALL
                SELECT name, rnk FROM (
                    SELECT name, row_number() OVER (ORDER BY w DESC, name ASC)
                               AS rnk FROM s3) WHERE rnk <= 100
            )
            SELECT name,
                   cast(sum(1000000000 // (60 + rnk)) AS bigint) AS score_nano,
                   cast(count(*) AS bigint) AS n_signals
            FROM uni GROUP BY name
            ORDER BY score_nano DESC, name ASC
            LIMIT 10
        """,
        "kg_threshold_sweep": f"""
            WITH names AS (
                SELECT DISTINCT norm_name FROM read_parquet('{mentions}')
                WHERE norm_name <> ''
            ), keyed AS (
                SELECT norm_name,
                       string_split(norm_name, ' ')[1] AS block,
                       CASE WHEN length(norm_name) < 3 THEN [norm_name]
                            ELSE list_distinct(list_transform(
                                range(1, length(norm_name) - 1),
                                i -> substring(norm_name, i, 3)))
                       END AS feat
                FROM names
            ), scored AS (
                SELECT cast(floor((CASE
                           WHEN len(list_distinct(list_concat(a.feat, b.feat))) = 0
                           THEN 1.0
                           ELSE len(list_intersect(a.feat, b.feat)) * 1.0
                                / len(list_distinct(list_concat(a.feat, b.feat)))
                       END) * 1000000) AS bigint) AS sim_micro
                FROM keyed a
                JOIN keyed b ON a.block = b.block AND a.norm_name < b.norm_name
            ), thr AS (
                SELECT cast(unnest([200000, 300000, 400000, 500000,
                                    600000, 700000, 800000, 900000]) AS bigint)
                       AS threshold_micro
            )
            SELECT t.threshold_micro,
                   cast(coalesce(sum(CASE WHEN s.sim_micro >= t.threshold_micro
                                          THEN 1 END), 0) AS bigint)
                       AS n_candidate_pairs
            FROM thr t LEFT JOIN scored s ON s.sim_micro >= t.threshold_micro
            GROUP BY t.threshold_micro
        """,
        "kg_nodes_agg": f"""
            SELECT canonical AS canonical_name,
                   count(*) AS n_mentions,
                   count(DISTINCT conv_id || '_' || cast(turn_idx AS varchar)) AS n_instances
            FROM read_parquet('{mentions}')
            GROUP BY canonical
        """,
        "kg_edge_history": f"""
            SELECT t.subj, t.pred, t.obj,
                   -- floor, not cast: Spark's unix_timestamp truncates
                   -- sub-second parts while a double->bigint cast rounds
                   cast(floor(epoch(min(tr.ts))) AS bigint) AS first_seen,
                   cast(floor(epoch(max(tr.ts))) AS bigint) AS last_seen,
                   count(*) AS n_sightings
            FROM read_parquet('{triples}') t
            JOIN read_parquet('{transcripts}') tr
              USING (conv_id, turn_idx)
            GROUP BY t.subj, t.pred, t.obj
        """,
        # Recency-weighted strength: same integer right-shift per elapsed
        # half-life (range/8), truncating floor division for the halvings.
        "kg_edges_decayed": f"""
            WITH tr AS (
                SELECT conv_id, turn_idx,
                       cast(floor(epoch(ts)) AS bigint) AS es
                FROM read_parquet('{transcripts}')
            ), b AS (
                SELECT max(es) AS hi,
                       greatest(1, (max(es) - min(es)) // 8) AS hl
                FROM tr
            ), s AS (
                SELECT t.subj, t.obj, tr.es,
                       cast(least(greatest(((SELECT hi FROM b) - tr.es)
                                           // (SELECT hl FROM b), 0), 19)
                            AS int) AS h
                FROM read_parquet('{triples}') t
                JOIN tr USING (conv_id, turn_idx)
                WHERE tr.es <= (SELECT hi FROM b)
            )
            SELECT subj AS src, obj AS dst,
                   cast(sum(1000000 >> h) AS bigint) AS decayed_micro,
                   cast(count(*) AS bigint) AS n_obs,
                   cast(max(es) AS bigint) AS last_seen
            FROM s GROUP BY subj, obj
        """,
        "kg_asof_edges": f"""
            WITH tr AS (
                SELECT conv_id, turn_idx,
                       cast(floor(epoch(ts)) AS bigint) AS es
                FROM read_parquet('{transcripts}')
            ), b AS (
                -- floor, not bare cast: DuckDB's double->bigint cast rounds
                -- while Spark's truncates; floor matches for positive epochs
                SELECT cast(floor((min(es) + max(es)) / 2.0) AS bigint) AS t_mid FROM tr
            ), obs AS (
                SELECT t.subj, t.obj, t.strength, tr.es
                FROM read_parquet('{triples}') t
                JOIN tr USING (conv_id, turn_idx), b
                WHERE tr.es <= b.t_mid
            )
            SELECT subj AS src, obj AS dst,
                   round(avg(strength), 6) AS strength,
                   count(*) AS n_obs,
                   max(es) AS last_seen
            FROM obs GROUP BY subj, obj
        """,
        "kg_entity_timeline": f"""
            WITH tr AS (
                SELECT conv_id, turn_idx,
                       cast(floor(epoch(ts)) AS bigint) AS es
                FROM read_parquet('{transcripts}')
            )
            SELECT m.canonical,
                   cast(floor(tr.es / 86400.0) AS bigint) AS day,
                   count(*) AS n_mentions,
                   count(DISTINCT m.conv_id) AS n_convs
            FROM read_parquet('{mentions}') m
            JOIN tr USING (conv_id, turn_idx)
            WHERE m.norm_name <> ''
            GROUP BY m.canonical, day
        """,
        "kg_snapshot_diff": f"""
            WITH tr AS (
                SELECT conv_id, turn_idx,
                       cast(floor(epoch(ts)) AS bigint) AS es
                FROM read_parquet('{transcripts}')
            ), b AS (
                SELECT cast(floor(min(es) + (max(es) - min(es)) / 3.0) AS bigint) AS t1,
                       cast(floor(min(es) + 2 * (max(es) - min(es)) / 3.0) AS bigint) AS t2
                FROM tr
            ), obs AS (
                SELECT t.subj, t.obj, t.strength, tr.es
                FROM read_parquet('{triples}') t
                JOIN tr USING (conv_id, turn_idx)
            ), old AS (
                SELECT subj AS src, obj AS dst,
                       round(avg(strength), 6) AS strength, count(*) AS n_obs
                FROM obs, b WHERE es <= b.t1 GROUP BY subj, obj
            ), new AS (
                SELECT subj AS src, obj AS dst,
                       round(avg(strength), 6) AS strength, count(*) AS n_obs
                FROM obs, b WHERE es <= b.t2 GROUP BY subj, obj
            )
            SELECT coalesce(o.src, n.src) AS src,
                   coalesce(o.dst, n.dst) AS dst,
                   CASE WHEN o.src IS NULL THEN 'added'
                        WHEN n.src IS NULL THEN 'removed'
                        WHEN o.strength IS NOT DISTINCT FROM n.strength
                         AND o.n_obs IS NOT DISTINCT FROM n.n_obs THEN 'stable'
                        ELSE 'changed' END AS status,
                   o.strength AS strength_old, n.strength AS strength_new,
                   o.n_obs AS n_obs_old, n.n_obs AS n_obs_new
            FROM old o FULL OUTER JOIN new n
              ON o.src = n.src AND o.dst = n.dst
        """,
        "kg_integrity_report": f"""
            WITH nodes AS (
                SELECT DISTINCT canonical AS name FROM read_parquet('{mentions}')
            ), edges AS (
                SELECT subj AS src, obj AS dst
                FROM read_parquet('{triples}') GROUP BY subj, obj
            ), endpoints AS (
                SELECT DISTINCT name FROM (
                    SELECT src AS name FROM edges
                    UNION ALL SELECT dst FROM edges
                )
            ), cmap AS (
                SELECT norm_name, canonical FROM read_parquet('{canon}')
            )
            SELECT 'nodes_total' AS "check",
                   (SELECT count(*) FROM nodes) AS value
            UNION ALL SELECT 'edges_total', (SELECT count(*) FROM edges)
            UNION ALL SELECT 'dangling_endpoints',
                (SELECT count(*) FROM endpoints e
                 WHERE NOT EXISTS (SELECT 1 FROM nodes n WHERE n.name = e.name))
            UNION ALL SELECT 'orphan_nodes',
                (SELECT count(*) FROM nodes n
                 WHERE NOT EXISTS (SELECT 1 FROM endpoints e WHERE e.name = n.name))
            UNION ALL SELECT 'self_loops',
                (SELECT count(*) FROM edges WHERE src = dst)
            UNION ALL SELECT 'duplicate_edge_keys',
                (SELECT count(*) FROM (
                    SELECT src, dst FROM edges GROUP BY src, dst HAVING count(*) > 1
                ))
            UNION ALL SELECT 'canon_targets_missing',
                (SELECT count(*) FROM (SELECT DISTINCT canonical FROM cmap) c
                 WHERE NOT EXISTS (SELECT 1 FROM nodes n WHERE n.name = c.canonical))
            UNION ALL SELECT 'canon_non_idempotent',
                (SELECT count(*)
                 FROM (SELECT DISTINCT canonical FROM cmap) c
                 JOIN cmap m
                   ON m.norm_name = {_DDB_NORM.format(col='c.canonical')}
                 WHERE m.canonical <> c.canonical)
        """,
        "kg_negative_samples": f"""
            WITH ents AS (
                SELECT DISTINCT canonical AS name FROM read_parquet('{mentions}')
            ), pool AS (
                SELECT name AS neg_obj FROM ents
                ORDER BY md5('|' || name), name LIMIT 16
            ), sp AS (
                SELECT DISTINCT subj, pred FROM read_parquet('{triples}')
            ), true_t AS (
                SELECT DISTINCT subj, pred, obj FROM read_parquet('{triples}')
            ), surv AS (
                SELECT c.subj, c.pred, c.neg_obj
                FROM (SELECT sp.subj, sp.pred, p.neg_obj
                      FROM sp CROSS JOIN pool p
                      WHERE p.neg_obj <> sp.subj) c
                LEFT JOIN true_t t
                  ON t.subj = c.subj AND t.pred = c.pred AND t.obj = c.neg_obj
                WHERE t.subj IS NULL
            )
            SELECT subj, pred, neg_obj, cast(rank AS int) AS rank FROM (
                SELECT subj, pred, neg_obj,
                       row_number() OVER (
                           PARTITION BY subj, pred
                           ORDER BY md5('|' || subj || '|' || pred || '|' || neg_obj),
                                    neg_obj
                       ) AS rank
                FROM surv
            ) WHERE rank <= 3
        """,
        "kg_negative_samples_subj": f"""
            WITH ents AS (
                SELECT DISTINCT canonical AS name FROM read_parquet('{mentions}')
            ), pool AS (
                SELECT name AS neg_subj FROM ents
                ORDER BY md5('|' || name), name LIMIT 16
            ), po AS (
                SELECT DISTINCT pred, obj FROM read_parquet('{triples}')
            ), true_t AS (
                SELECT DISTINCT subj, pred, obj FROM read_parquet('{triples}')
            ), surv AS (
                SELECT c.neg_subj, c.pred, c.obj
                FROM (SELECT po.pred, po.obj, p.neg_subj
                      FROM po CROSS JOIN pool p
                      WHERE p.neg_subj <> po.obj) c
                LEFT JOIN true_t t
                  ON t.subj = c.neg_subj AND t.pred = c.pred AND t.obj = c.obj
                WHERE t.subj IS NULL
            )
            SELECT neg_subj, pred, obj, cast(rank AS int) AS rank FROM (
                SELECT neg_subj, pred, obj,
                       row_number() OVER (
                           PARTITION BY pred, obj
                           ORDER BY md5('|' || obj || '|' || pred || '|' || neg_subj),
                                    neg_subj
                       ) AS rank
                FROM surv
            ) WHERE rank <= 3
        """,
        "kg_random_walks": f"""
            WITH me AS (
                SELECT subj AS src, obj AS dst
                FROM read_parquet('{triples}') GROUP BY subj, obj
            ), sym AS (
                SELECT src, dst FROM me WHERE src <> dst
                UNION
                SELECT dst, src FROM me WHERE src <> dst
            ), w AS (
                SELECT DISTINCT src AS start, widx
                FROM sym, (VALUES (0), (1)) AS t(widx)
            ), s1 AS (
                SELECT w.start, w.widx,
                       arg_min(e.dst, md5('|' || w.start || '|' ||
                           cast(w.widx AS varchar) || '|1|' || e.dst)) AS cur
                FROM w JOIN sym e ON e.src = w.start
                GROUP BY w.start, w.widx
            ), s2 AS (
                SELECT s.start, s.widx,
                       arg_min(e.dst, md5('|' || s.start || '|' ||
                           cast(s.widx AS varchar) || '|2|' || e.dst)) AS cur
                FROM s1 s JOIN sym e ON e.src = s.cur
                GROUP BY s.start, s.widx
            ), s3 AS (
                SELECT s.start, s.widx,
                       arg_min(e.dst, md5('|' || s.start || '|' ||
                           cast(s.widx AS varchar) || '|3|' || e.dst)) AS cur
                FROM s2 s JOIN sym e ON e.src = s.cur
                GROUP BY s.start, s.widx
            )
            SELECT w.start, cast(w.widx AS int) AS walk_idx,
                   w.start || ' -> ' || s1.cur || ' -> ' || s2.cur
                           || ' -> ' || s3.cur AS path,
                   s3.cur AS end_node
            FROM w
            JOIN s1 ON s1.start = w.start AND s1.widx = w.widx
            JOIN s2 ON s2.start = w.start AND s2.widx = w.widx
            JOIN s3 ON s3.start = w.start AND s3.widx = w.widx
        """,
        # node2vec replay: the engine's replica-argmin weighted choice IS
        # SQL — a constant replica table r joined under r.r < weight gives
        # every candidate exactly `weight` md5 draws; arg_min over all
        # draws realizes P = w/Σw with zero floating point. Weights 1/2/4
        # (return/common/far) mirror the queries() call; step 1 is uniform
        # (single replica 0), steps 2-3 carry (prev, cur).
        "kg_node2vec_walks": f"""
            WITH me AS (
                SELECT subj AS src, obj AS dst
                FROM read_parquet('{triples}') GROUP BY subj, obj
            ), sym AS (
                SELECT src, dst FROM me WHERE src <> dst
                UNION
                SELECT dst, src FROM me WHERE src <> dst
            ), w AS (
                SELECT DISTINCT src AS start, widx
                FROM sym, (VALUES (0), (1)) AS t(widx)
            ), reps AS (
                SELECT * FROM (VALUES (0), (1), (2), (3)) AS rv(r)
            ), s1 AS (
                SELECT w.start, w.widx, w.start AS prev,
                       arg_min(e.dst, md5('|' || w.start || '|' ||
                           cast(w.widx AS varchar) || '|1|' || e.dst || '|0'))
                           AS cur
                FROM w JOIN sym e ON e.src = w.start
                GROUP BY w.start, w.widx
            ), s2 AS (
                SELECT s.start, s.widx, s.cur AS prev,
                       arg_min(e.dst, md5('|' || s.start || '|' ||
                           cast(s.widx AS varchar) || '|2|' || e.dst || '|' ||
                           cast(r.r AS varchar))) AS cur
                FROM s1 s
                JOIN sym e ON e.src = s.cur
                LEFT JOIN sym pa ON pa.src = s.prev AND pa.dst = e.dst
                JOIN reps r ON r.r < (CASE WHEN e.dst = s.prev THEN 1
                                           WHEN pa.dst IS NOT NULL THEN 2
                                           ELSE 4 END)
                GROUP BY s.start, s.widx, s.cur
            ), s3 AS (
                SELECT s.start, s.widx,
                       arg_min(e.dst, md5('|' || s.start || '|' ||
                           cast(s.widx AS varchar) || '|3|' || e.dst || '|' ||
                           cast(r.r AS varchar))) AS cur
                FROM s2 s
                JOIN sym e ON e.src = s.cur
                LEFT JOIN sym pa ON pa.src = s.prev AND pa.dst = e.dst
                JOIN reps r ON r.r < (CASE WHEN e.dst = s.prev THEN 1
                                           WHEN pa.dst IS NOT NULL THEN 2
                                           ELSE 4 END)
                GROUP BY s.start, s.widx
            )
            SELECT w.start, cast(w.widx AS int) AS walk_idx,
                   w.start || ' -> ' || s1.cur || ' -> ' || s2.cur
                           || ' -> ' || s3.cur AS path,
                   s3.cur AS end_node
            FROM w
            JOIN s1 ON s1.start = w.start AND s1.widx = w.widx
            JOIN s2 ON s2.start = w.start AND s2.widx = w.widx
            JOIN s3 ON s3.start = w.start AND s3.widx = w.widx
        """,
        "kg_walk_cooccurrence": f"""
            WITH me AS (
                SELECT subj AS src, obj AS dst
                FROM read_parquet('{triples}') GROUP BY subj, obj
            ), sym AS (
                SELECT src, dst FROM me WHERE src <> dst
                UNION
                SELECT dst, src FROM me WHERE src <> dst
            ), w AS (
                SELECT DISTINCT src AS start, widx
                FROM sym, (VALUES (0), (1)) AS t(widx)
            ), s1 AS (
                SELECT w.start, w.widx,
                       arg_min(e.dst, md5('|' || w.start || '|' ||
                           cast(w.widx AS varchar) || '|1|' || e.dst)) AS cur
                FROM w JOIN sym e ON e.src = w.start
                GROUP BY w.start, w.widx
            ), s2 AS (
                SELECT s.start, s.widx,
                       arg_min(e.dst, md5('|' || s.start || '|' ||
                           cast(s.widx AS varchar) || '|2|' || e.dst)) AS cur
                FROM s1 s JOIN sym e ON e.src = s.cur
                GROUP BY s.start, s.widx
            ), s3 AS (
                SELECT s.start, s.widx,
                       arg_min(e.dst, md5('|' || s.start || '|' ||
                           cast(s.widx AS varchar) || '|3|' || e.dst)) AS cur
                FROM s2 s JOIN sym e ON e.src = s.cur
                GROUP BY s.start, s.widx
            ), wn AS (
                SELECT w.start AS n0, s1.cur AS n1, s2.cur AS n2, s3.cur AS n3
                FROM w
                JOIN s1 ON s1.start = w.start AND s1.widx = w.widx
                JOIN s2 ON s2.start = w.start AND s2.widx = w.widx
                JOIN s3 ON s3.start = w.start AND s3.widx = w.widx
            ), p AS (
                -- all index pairs (i, j), i < j <= i + 2, over n0..n3
                SELECT least(n0, n1) AS a, greatest(n0, n1) AS b FROM wn
                UNION ALL SELECT least(n1, n2), greatest(n1, n2) FROM wn
                UNION ALL SELECT least(n2, n3), greatest(n2, n3) FROM wn
                UNION ALL SELECT least(n0, n2), greatest(n0, n2) FROM wn
                UNION ALL SELECT least(n1, n3), greatest(n1, n3) FROM wn
            )
            SELECT a AS node_a, b AS node_b, count(*) AS n_cooc
            FROM p WHERE a <> b GROUP BY a, b
        """,
        "kg_filtered_triples": f"""
            WITH ty AS (
                SELECT canonical AS name, min(type) AS type
                FROM read_parquet('{mentions}') GROUP BY canonical
            ), dt AS (
                SELECT DISTINCT subj, pred, obj FROM read_parquet('{triples}')
            ), sig AS (
                SELECT st.type AS subj_type, dt.pred, ot.type AS obj_type,
                       count(*) AS n
                FROM dt
                JOIN ty st ON st.name = dt.subj
                JOIN ty ot ON ot.name = dt.obj
                GROUP BY st.type, dt.pred, ot.type
            )
            SELECT tr.conv_id, tr.turn_idx, tr.subj, tr.pred, tr.obj,
                   st.type AS subj_type, ot.type AS obj_type,
                   cast(sig.n AS bigint) AS sig_support
            FROM read_parquet('{triples}') tr
            JOIN ty st ON st.name = tr.subj
            JOIN ty ot ON ot.name = tr.obj
            JOIN sig ON sig.pred = tr.pred
                    AND sig.subj_type = st.type AND sig.obj_type = ot.type
            WHERE sig.n >= 8
        """,
        "kg_type_cooccurrence": f"""
            WITH ty AS (
                SELECT canonical AS name, min(type) AS type
                FROM read_parquet('{mentions}') GROUP BY canonical
            ), t AS (
                SELECT DISTINCT subj, pred, obj FROM read_parquet('{triples}')
            ), sig AS (
                SELECT st.type AS subj_type, t.pred, ot.type AS obj_type,
                       count(*) AS n_triples
                FROM t
                JOIN ty st ON st.name = t.subj
                JOIN ty ot ON ot.name = t.obj
                GROUP BY st.type, t.pred, ot.type
            )
            SELECT least(subj_type, obj_type) AS type_a,
                   greatest(subj_type, obj_type) AS type_b,
                   sum(n_triples) AS n_edges
            FROM sig GROUP BY 1, 2
        """,
        "kg_assortativity": f"""
            WITH und AS (
                SELECT DISTINCT least(subj, obj) AS a, greatest(subj, obj) AS b
                FROM read_parquet('{triples}') WHERE subj <> obj
            ), sym AS (
                SELECT a AS u, b AS v FROM und
                UNION ALL SELECT b, a FROM und
            ), deg AS (
                SELECT u, count(*) AS d FROM sym GROUP BY u
            ), stubs AS (
                SELECT du.d AS dx, dv.d AS dy
                FROM sym
                JOIN deg du ON du.u = sym.u
                JOIN deg dv ON dv.u = sym.v
            )
            SELECT count(*) AS m2,
                   sum(dx * dy) AS s_xy,
                   sum(dx) AS s_x,
                   sum(dx * dx) AS s_x2
            FROM stubs
        """,
        "kg_bfs_distances": f"""
            WITH RECURSIVE und AS (
                SELECT DISTINCT least(subj, obj) AS a, greatest(subj, obj) AS b
                FROM read_parquet('{triples}') WHERE subj <> obj
            ), sym AS (
                SELECT a AS u, b AS v FROM und
                UNION ALL SELECT b, a FROM und
            ), deg AS (
                SELECT u, count(*) AS n FROM sym GROUP BY u
            ), seed AS (
                SELECT u FROM deg ORDER BY n DESC, u LIMIT 1
            ), bfs AS (
                SELECT u AS vertex, 0 AS dist FROM seed
                UNION
                SELECT s.v, b.dist + 1 FROM bfs b
                JOIN sym s ON s.u = b.vertex WHERE b.dist < 6
            )
            SELECT vertex, cast(min(dist) AS int) AS dist
            FROM bfs GROUP BY vertex
        """,
        "kg_ontology": f"""
            WITH ty AS (
                SELECT canonical AS name, min(type) AS type
                FROM read_parquet('{mentions}') GROUP BY canonical
            ), t AS (
                SELECT DISTINCT subj, pred, obj FROM read_parquet('{triples}')
            )
            SELECT st.type AS subj_type, t.pred, ot.type AS obj_type,
                   count(*) AS n_triples,
                   count(DISTINCT t.subj) AS n_subjects,
                   count(DISTINCT t.obj) AS n_objects
            FROM t
            JOIN ty st ON st.name = t.subj
            JOIN ty ot ON ot.name = t.obj
            GROUP BY st.type, t.pred, ot.type
        """,
        "kg_metapaths": f"""
            WITH ty AS (
                SELECT canonical AS name, min(type) AS type
                FROM read_parquet('{mentions}') GROUP BY canonical
            ), t AS (
                SELECT DISTINCT subj, pred, obj FROM read_parquet('{triples}')
            )
            SELECT st.type AS subj_type, a.pred AS pred1,
                   mt.type AS mid_type, b.pred AS pred2,
                   ot.type AS obj_type, count(*) AS n_paths
            FROM t a
            JOIN t b ON a.obj = b.subj AND a.subj <> b.obj
            JOIN ty st ON st.name = a.subj
            JOIN ty mt ON mt.name = a.obj
            JOIN ty ot ON ot.name = b.obj
            GROUP BY st.type, a.pred, mt.type, b.pred, ot.type
        """,
        "kg_two_hop": f"""
            WITH e AS (
                SELECT subj AS src, obj AS dst, round(avg(strength), 6) AS s
                FROM read_parquet('{triples}')
                GROUP BY subj, obj
            )
            SELECT a.src AS src, b.dst AS dst, count(*) AS n_paths,
                   round(max(a.s * b.s), 6) AS best_strength
            FROM e a JOIN e b ON a.dst = b.src AND a.src <> b.dst
            GROUP BY a.src, b.dst
            ORDER BY n_paths DESC, a.src, b.dst
            LIMIT 100
        """,
        "kg_mention_skew_profile": f"""
            WITH c AS (
                SELECT norm_name AS key, count(*) AS n
                FROM read_parquet('{mentions}')
                GROUP BY norm_name
            ), t AS (SELECT sum(n) AS total FROM c)
            SELECT key, n, round(n / total, 6) AS share,
                   cast(greatest(1, (n * 64 + total - 1) // total) AS int)
                     AS suggested_salt
            FROM c, t
            ORDER BY n DESC, key
            LIMIT 20
        """,
        "kg_ntriples": f"""
            SELECT '<urn:kg:entity:' || substr(sha256(canonical), 1, 32)
                   || '> <urn:kg:label> "'
                   -- chr(92): DuckDB single-quoted literals do NOT
                   -- process backslash escapes, so '\\' would be TWO
                   -- backslashes and the escape chain a no-op
                   || replace(replace(replace(replace(replace(
                        canonical, chr(92), chr(92) || chr(92)),
                        '"', chr(92) || '"'),
                        chr(10), chr(92) || 'n'),
                        chr(13), chr(92) || 'r'),
                        chr(9), chr(92) || 't')
                   || '" .' AS line
            FROM (SELECT DISTINCT canonical FROM read_parquet('{canon}'))
            UNION ALL
            SELECT '<urn:kg:entity:' || substr(sha256(subj), 1, 32)
                   || '> <urn:kg:pred:'
                   || regexp_replace(lower(arg_max(pred, {pred_key})), '[^a-z0-9]+', '_', 'g')
                   || '> <urn:kg:entity:' || substr(sha256(obj), 1, 32) || '> .' AS line
            FROM read_parquet('{triples}')
            GROUP BY subj, obj
        """,
        "kg_extraction_metrics": f"""
            WITH t AS (
                SELECT conv_id, count(*) AS n_turns
                FROM read_parquet('{transcripts}') GROUP BY conv_id
            ), m AS (
                SELECT conv_id, count(*) AS n_mentions
                FROM read_parquet('{mentions}') GROUP BY conv_id
            ), tr AS (
                SELECT conv_id, count(*) AS n_triples
                FROM read_parquet('{triples}') GROUP BY conv_id
            )
            SELECT t.conv_id, t.n_turns,
                   coalesce(m.n_mentions, 0) AS n_mentions,
                   coalesce(tr.n_triples, 0) AS n_triples
            FROM t LEFT JOIN m USING (conv_id) LEFT JOIN tr USING (conv_id)
        """,
        "kg_entity_aliases": f"""
            SELECT canonical, count(*) AS n_aliases,
                   string_agg(norm_name, '|' ORDER BY norm_name) AS aliases
            FROM read_parquet('{canon}') GROUP BY canonical
        """,
        "kg_predicate_stats": f"""
            SELECT pred, count(*) AS n,
                   count(DISTINCT conv_id) AS n_convs,
                   round(avg(strength), 6) AS avg_strength,
                   max(strength) AS max_strength
            FROM read_parquet('{triples}') GROUP BY pred
        """,
        "kg_degree_histogram": f"""
            WITH merged AS (
                SELECT subj AS src, obj AS dst
                FROM read_parquet('{triples}') GROUP BY subj, obj
            ), deg AS (
                SELECT name, count(*) AS degree FROM (
                    SELECT src AS name FROM merged
                    UNION ALL
                    SELECT dst AS name FROM merged
                ) GROUP BY name
            )
            SELECT degree, count(*) AS n_nodes FROM deg GROUP BY degree
        """,
        "sft_render": f"""
            WITH t AS (
                SELECT conv_id, turn_idx, role,
                       '<|im_start|>'
                       || CASE WHEN tool IS NOT NULL AND tool <> ''
                               THEN role || ':' || tool ELSE role END
                       || chr(10) || coalesce(text, '') || '<|im_end|>'
                       || chr(10) AS r
                FROM read_parquet('{transcripts}')
            )
            SELECT conv_id,
                   string_agg(r, '' ORDER BY turn_idx) AS text,
                   count(*) AS n_turns,
                   cast(sum(CASE WHEN role = 'assistant' THEN 1 ELSE 0 END)
                        AS bigint) AS n_assistant_turns,
                   cast(length(string_agg(r, '' ORDER BY turn_idx))
                        AS bigint) AS n_chars
            FROM t GROUP BY conv_id
        """,
        "sft_loss_spans": f"""
            WITH t AS (
                SELECT conv_id, turn_idx, role,
                       length('<|im_start|>')
                       + length(CASE WHEN tool IS NOT NULL AND tool <> ''
                                     THEN role || ':' || tool ELSE role END)
                       + 1 AS hdr_len,
                       length(coalesce(text, '')) AS content_len,
                       length('<|im_start|>')
                       + length(CASE WHEN tool IS NOT NULL AND tool <> ''
                                     THEN role || ':' || tool ELSE role END)
                       + 1 + length(coalesce(text, ''))
                       + length('<|im_end|>') + 1 AS rl
                FROM read_parquet('{transcripts}')
            ), o AS (
                SELECT *, coalesce(sum(rl) OVER (
                    PARTITION BY conv_id ORDER BY turn_idx
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
                FROM t
            )
            SELECT conv_id, cast(turn_idx AS bigint) AS turn_idx,
                   cast(off + hdr_len AS bigint) AS start_char,
                   cast(off + hdr_len + content_len AS bigint) AS end_char
            FROM o WHERE role = 'assistant'
        """,
        "sft_unrolled": f"""
            WITH r AS (
                SELECT conv_id, turn_idx, role,
                       '<|im_start|>'
                       || CASE WHEN tool IS NOT NULL AND tool <> ''
                               THEN role || ':' || tool ELSE role END
                       || chr(10) AS hdrs,
                       coalesce(text, '') || '<|im_end|>' || chr(10) AS compl,
                       '<|im_start|>'
                       || CASE WHEN tool IS NOT NULL AND tool <> ''
                               THEN role || ':' || tool ELSE role END
                       || chr(10) || coalesce(text, '') || '<|im_end|>'
                       || chr(10) AS rend
                FROM read_parquet('{transcripts}')
            ), p AS (
                SELECT conv_id, turn_idx, role, hdrs, compl,
                       coalesce(string_agg(rend, '') OVER (
                           PARTITION BY conv_id ORDER BY turn_idx
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                           '') AS prefix,
                       count(*) OVER (
                           PARTITION BY conv_id ORDER BY turn_idx
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                       ) AS n_ctx
                FROM r
            )
            SELECT conv_id, cast(turn_idx AS bigint) AS turn_idx,
                   prefix || hdrs AS prompt, compl AS completion,
                   cast(n_ctx AS bigint) AS n_context_turns,
                   cast(length(prefix || hdrs) AS bigint) AS n_prompt_chars,
                   cast(length(compl) AS bigint) AS n_completion_chars
            FROM p WHERE role = 'assistant'
        """,
        "sft_packed_spans": f"""
            WITH t AS (
                SELECT conv_id, turn_idx, role,
                       '<|im_start|>'
                       || CASE WHEN tool IS NOT NULL AND tool <> ''
                               THEN role || ':' || tool ELSE role END
                       || chr(10) || coalesce(text, '') || '<|im_end|>'
                       || chr(10) AS r,
                       length('<|im_start|>')
                       + length(CASE WHEN tool IS NOT NULL AND tool <> ''
                                     THEN role || ':' || tool ELSE role END)
                       + 1 AS hdr_len,
                       length(coalesce(text, '')) AS content_len
                FROM read_parquet('{transcripts}')
            ), rend AS (
                SELECT conv_id, string_agg(r, '' ORDER BY turn_idx) AS rt
                FROM t GROUP BY conv_id
            ), sized AS (
                SELECT conv_id, length(rt) AS n_chars,
                       CASE WHEN trim(regexp_replace(regexp_replace(lower(rt),
                                '[^a-z0-9 ]+', ' ', 'g'), '\\s+', ' ', 'g')) = ''
                            THEN 0
                            ELSE len(string_split(trim(regexp_replace(
                                regexp_replace(lower(rt), '[^a-z0-9 ]+', ' ', 'g'),
                                '\\s+', ' ', 'g')), ' ')) END AS n_tokens,
                       substr(md5(conv_id), 1, 1) AS shard
                FROM rend
            ), packed AS (
                SELECT conv_id, shard, n_chars, n_tokens,
                       sum(n_tokens) OVER (PARTITION BY shard ORDER BY conv_id
                                           ROWS UNBOUNDED PRECEDING) AS cum
                FROM sized
            ), bins AS (
                SELECT conv_id, n_chars,
                       shard || '_' || cast(cast(floor((cum - n_tokens) * 1.0 / 2000)
                           AS bigint) AS varchar) AS bin_id
                FROM packed
            ), offs AS (
                SELECT conv_id, bin_id,
                       coalesce(sum(n_chars) OVER (
                           PARTITION BY bin_id ORDER BY conv_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                           0) AS off
                FROM bins
            ), o AS (
                SELECT conv_id, turn_idx, role, hdr_len, content_len,
                       coalesce(sum(length(r)) OVER (
                           PARTITION BY conv_id ORDER BY turn_idx
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                           0) AS toff
                FROM t
            )
            SELECT bin_id, o.conv_id, cast(turn_idx AS bigint) AS turn_idx,
                   cast(toff + hdr_len + off AS bigint) AS start_char,
                   cast(toff + hdr_len + content_len + off AS bigint) AS end_char
            FROM o JOIN offs ON o.conv_id = offs.conv_id
            WHERE role = 'assistant'
        """,
        "conv_sft_quality": f"""
            WITH b AS (
                SELECT conv_id, turn_idx, role,
                       length(coalesce(text, '')) AS len,
                       CASE WHEN role = 'assistant' THEN 1 ELSE 0 END AS is_a,
                       CASE WHEN role = 'assistant' AND ({_DDB_REFUSAL})
                            THEN 1 ELSE 0 END AS ref,
                       lag(role) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS prev_role,
                       row_number() OVER (PARTITION BY conv_id ORDER BY turn_idx DESC) AS rev
                FROM read_parquet('{transcripts}')
            )
            SELECT conv_id,
                   count(*) AS n_turns,
                   cast(sum(is_a) AS bigint) AS n_assistant,
                   round(sum(is_a) * 1.0 / count(*), 6) AS assistant_frac,
                   round(CASE WHEN sum(is_a) > 0
                              THEN sum(is_a * len) * 1.0 / sum(is_a)
                              ELSE 0 END, 6) AS mean_assistant_chars,
                   round(CASE WHEN sum(is_a) > 0
                              THEN sum(ref) * 1.0 / sum(is_a)
                              ELSE 0 END, 6) AS refusal_frac,
                   round(CASE WHEN count(*) > 1
                              THEN sum(CASE WHEN prev_role IS NOT NULL
                                            AND prev_role <> role
                                       THEN 1 ELSE 0 END) * 1.0 / (count(*) - 1)
                              ELSE 0 END, 6) AS alternation_frac,
                   cast(max(CASE WHEN rev = 1 THEN is_a ELSE 0 END) AS boolean)
                       AS ends_with_assistant
            FROM b GROUP BY conv_id
        """,
        "conv_entity_salience": f"""
            WITH mc AS (
                SELECT conv_id, canonical
                FROM read_parquet('{mentions}') WHERE norm_name <> ''
            ), tf AS (
                SELECT conv_id, canonical, count(*) AS tf
                FROM mc GROUP BY conv_id, canonical
            ), idf AS (
                SELECT canonical, count(DISTINCT conv_id) AS df
                FROM mc GROUP BY canonical
            ), scored AS (
                SELECT tf.conv_id, tf.canonical,
                       cast(tf.tf AS bigint) AS tf,
                       cast(idf.df AS bigint) AS df,
                       cast((tf.tf * 1000000) // idf.df AS bigint)
                           AS salience_micro
                FROM tf JOIN idf USING (canonical)
            ), ranked AS (
                SELECT *, row_number() OVER (
                    PARTITION BY conv_id
                    ORDER BY salience_micro DESC, canonical ASC) AS rnk
                FROM scored
            )
            SELECT conv_id, canonical, tf, df, salience_micro,
                   cast(rnk AS bigint) AS rnk
            FROM ranked WHERE rnk <= 3
        """,
        "conv_related": f"""
            WITH mc AS (
                SELECT DISTINCT conv_id, canonical
                FROM read_parquet('{mentions}') WHERE norm_name <> ''
            ), sizes AS (
                SELECT conv_id, count(*) AS n FROM mc GROUP BY conv_id
            ), pairs AS (
                SELECT a.conv_id AS conv_a, b.conv_id AS conv_b,
                       count(*) AS n_shared
                FROM mc a JOIN mc b USING (canonical)
                WHERE a.conv_id < b.conv_id
                GROUP BY 1, 2 HAVING count(*) >= 2
            ), scored AS (
                SELECT conv_a, conv_b, n_shared,
                       (n_shared * 1000000) // (sa.n + sb.n - n_shared) AS jm
                FROM pairs
                JOIN sizes sa ON sa.conv_id = conv_a
                JOIN sizes sb ON sb.conv_id = conv_b
            ), sym AS (
                SELECT conv_a AS conv_id, conv_b AS neighbor, n_shared, jm
                FROM scored
                UNION ALL
                SELECT conv_b, conv_a, n_shared, jm FROM scored
            ), ranked AS (
                SELECT *, row_number() OVER (
                    PARTITION BY conv_id ORDER BY jm DESC, neighbor ASC
                ) AS rnk
                FROM sym
            )
            SELECT conv_id, neighbor, cast(n_shared AS bigint) AS n_shared,
                   cast(jm AS bigint) AS jaccard_micro,
                   cast(rnk AS bigint) AS rnk
            FROM ranked WHERE rnk <= 3
        """,
        "conv_turn_latency": f"""
            WITH g AS (
                SELECT conv_id,
                       lag(role) OVER w AS from_role, role AS to_role,
                       epoch_us(ts) - lag(epoch_us(ts)) OVER w AS gap_us
                FROM read_parquet('{transcripts}')
                WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx)
            )
            SELECT from_role, to_role, cast(count(*) AS bigint) AS n,
                   cast(sum(gap_us) AS bigint) AS sum_gap_us,
                   cast(max(gap_us) AS bigint) AS max_gap_us,
                   cast(min(gap_us) AS bigint) AS min_gap_us
            FROM g WHERE gap_us IS NOT NULL
            GROUP BY 1, 2
        """,
        "conv_stats": f"""
            WITH g AS (
                SELECT conv_id, role, tool, text,
                       epoch_us(ts) AS us,
                       epoch_us(ts) - lag(epoch_us(ts)) OVER (
                           PARTITION BY conv_id ORDER BY turn_idx) AS gap
                FROM read_parquet('{transcripts}')
            )
            SELECT conv_id,
                   count(*) AS n_turns,
                   cast(sum(CASE WHEN role = 'user' THEN 1 ELSE 0 END) AS bigint) AS n_user,
                   cast(sum(CASE WHEN role = 'assistant' THEN 1 ELSE 0 END) AS bigint) AS n_assistant,
                   cast(sum(CASE WHEN role = 'system' THEN 1 ELSE 0 END) AS bigint) AS n_system,
                   cast(sum(CASE WHEN tool IS NOT NULL THEN 1 ELSE 0 END) AS bigint) AS n_tool_calls,
                   count(DISTINCT tool) AS n_distinct_tools,
                   cast(sum(coalesce(length(text), 0)) AS bigint) AS total_chars,
                   max(us) - min(us) AS duration_us,
                   cast(coalesce(max(gap), 0) AS bigint) AS max_gap_us
            FROM g GROUP BY conv_id
        """,
        "conv_integrity": f"""
            WITH g AS (
                SELECT conv_id, turn_idx, text,
                       CASE WHEN ts < lag(ts) OVER (
                           PARTITION BY conv_id ORDER BY turn_idx)
                            THEN 1 ELSE 0 END AS reg
                FROM read_parquet('{transcripts}')
            )
            SELECT conv_id,
                   count(*) AS n_turns,
                   count(DISTINCT turn_idx) AS n_distinct_idx,
                   min(turn_idx) AS min_idx,
                   max(turn_idx) AS max_idx,
                   cast(sum(reg) AS bigint) AS n_ts_regressions,
                   cast(sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS bigint) AS n_null_text,
                   cast(sum(CASE WHEN trim(coalesce(text, '')) = '' THEN 1 ELSE 0 END) AS bigint) AS n_empty_text,
                   (min(turn_idx) = 0 AND max(turn_idx) = count(*) - 1
                    AND count(DISTINCT turn_idx) = count(*)) AS is_contiguous
            FROM g GROUP BY conv_id
        """,
        "conv_role_transitions": f"""
            WITH g AS (
                SELECT coalesce(lag(role) OVER (
                           PARTITION BY conv_id ORDER BY turn_idx), '<start>') AS from_role,
                       role AS to_role
                FROM read_parquet('{transcripts}')
            )
            SELECT from_role, to_role, count(*) AS n
            FROM g GROUP BY from_role, to_role
        """,
        "conv_tool_usage": f"""
            SELECT tool,
                   count(*) AS n_calls,
                   count(DISTINCT conv_id) AS n_convs,
                   cast(sum(coalesce(length(text), 0)) AS bigint) AS total_chars,
                   round(cast(sum(coalesce(length(text), 0)) AS double) / count(*), 6) AS avg_chars
            FROM read_parquet('{transcripts}')
            WHERE tool IS NOT NULL GROUP BY tool
        """,
        "conv_sessions": f"""
            WITH g AS (
                SELECT conv_id, turn_idx, epoch_us(ts) AS us,
                       CASE WHEN lag(epoch_us(ts)) OVER (
                                PARTITION BY conv_id
                                ORDER BY epoch_us(ts), turn_idx) IS NULL
                              OR epoch_us(ts) - lag(epoch_us(ts)) OVER (
                                PARTITION BY conv_id
                                ORDER BY epoch_us(ts), turn_idx) > 60000000
                            THEN 1 ELSE 0 END AS new_s
                FROM read_parquet('{transcripts}')
            ), s AS (
                SELECT conv_id, us,
                       cast(sum(new_s) OVER (
                            PARTITION BY conv_id ORDER BY us, turn_idx
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                       ) AS bigint) AS session_idx
                FROM g
            )
            SELECT conv_id, session_idx, count(*) AS n_turns,
                   min(us) AS start_us, max(us) AS end_us
            FROM s GROUP BY conv_id, session_idx
        """,
        "conv_prefix_dups": f"""
            WITH p AS (
                SELECT conv_id,
                       md5(string_agg(coalesce(text, ''), chr(31) ORDER BY turn_idx)) AS prefix_hash
                FROM read_parquet('{transcripts}')
                WHERE turn_idx < 3 GROUP BY conv_id
            )
            SELECT conv_id, prefix_hash,
                   count(*) OVER (PARTITION BY prefix_hash) AS group_size,
                   min(conv_id) OVER (PARTITION BY prefix_hash) AS keeper_conv_id,
                   conv_id = min(conv_id) OVER (PARTITION BY prefix_hash) AS is_keeper
            FROM p
        """,
        "kg_edges_merged": f"""
            SELECT subj AS src, obj AS dst,
                   arg_max(pred, {pred_key}) AS pred,
                   round(avg(strength), 6) AS strength,
                   count(*) AS n_obs
            FROM read_parquet('{triples}')
            GROUP BY subj, obj
        """,
        "kg_claims_agg": f"""
            WITH ents AS (
                SELECT lower(c.content) AS content_key, cm.canonical AS eid
                FROM (SELECT content, unnest(entities) AS ename
                      FROM read_parquet('{claims}')) c
                JOIN read_parquet('{canon}') cm
                  ON cm.norm_name = {norm_ename}
            )
            -- n_obs counts DISTINCT (chunk, raw content) pairs: the engine
            -- pre-groups claims per (chunk, content) before the merge, so an
            -- identical claim sentence repeated within one turn counts once,
            -- while case-variant sentences in one turn count separately
            SELECT c.content_key,
                   count(DISTINCT c.obs_key) AS n_obs,
                   e.n_entities
            FROM (SELECT lower(content) AS content_key,
                         conv_id || '_' || cast(turn_idx AS varchar)
                           || chr(10) || content AS obs_key
                  FROM read_parquet('{claims}')) c
            JOIN (SELECT content_key, count(DISTINCT eid) AS n_entities
                  FROM ents GROUP BY content_key) e USING (content_key)
            GROUP BY c.content_key, e.n_entities
        """,
        "kg_entity_rank": f"""
            SELECT name, rank FROM read_parquet('{graph["golden_pagerank"]}')
        """,
        # Undirected simple graph of the merged edges, shared by the two
        # graph-analytics oracles below (same graph pagerank uses).
        "kg_triangle_stats": f"""
            WITH und AS (
                SELECT DISTINCT least(subj, obj) AS a, greatest(subj, obj) AS b
                FROM read_parquet('{triples}') WHERE subj <> obj
            ), deg AS (
                SELECT v AS name, count(*) AS degree FROM (
                    SELECT a AS v FROM und UNION ALL SELECT b AS v FROM und
                ) t GROUP BY v
            ), tri AS (
                SELECT e1.a AS x, e1.b AS y, e2.b AS z
                FROM und e1
                JOIN und e2 ON e2.a = e1.b
                JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b
            ), cnt AS (
                SELECT v AS name, count(*) AS n_triangles FROM (
                    SELECT x AS v FROM tri
                    UNION ALL SELECT y AS v FROM tri
                    UNION ALL SELECT z AS v FROM tri
                ) t GROUP BY v
            )
            SELECT d.name, d.degree,
                   coalesce(c.n_triangles, 0) AS n_triangles,
                   CASE WHEN d.degree >= 2 THEN
                       round((2 * coalesce(c.n_triangles, 0))
                             / (d.degree * (d.degree - 1)), 6)
                   ELSE 0.0 END AS clustering
            FROM deg d LEFT JOIN cnt c USING (name)
        """,
        "kg_link_prediction": f"""
            WITH und AS (
                SELECT DISTINCT least(subj, obj) AS a, greatest(subj, obj) AS b
                FROM read_parquet('{triples}') WHERE subj <> obj
            ), adj AS (
                SELECT a AS u, b AS v FROM und
                UNION ALL SELECT b AS u, a AS v FROM und
            ), deg AS (
                SELECT u AS vertex, count(*) AS degree FROM adj GROUP BY u
            ), pairs AS (
                -- ra_micro mirrors the engine: per shared neighbor u an
                -- INTEGER contribution 10^6 // deg(u), summed order-free
                SELECT n1.v AS a, n2.v AS b, count(*) AS common,
                       sum(1000000 // d.degree) AS ra_micro
                FROM adj n1
                JOIN adj n2 ON n1.u = n2.u AND n1.v < n2.v
                JOIN deg d ON d.vertex = n1.u
                GROUP BY n1.v, n2.v
            ), nonedges AS (
                SELECT p.a, p.b, p.common, p.ra_micro FROM pairs p
                ANTI JOIN und e ON p.a = e.a AND p.b = e.b
            )
            SELECT n.a, n.b, n.common,
                   round(n.common / (da.degree + db.degree - n.common), 6)
                       AS jaccard,
                   n.ra_micro
            FROM nonedges n
            JOIN deg da ON da.vertex = n.a
            JOIN deg db ON db.vertex = n.b
            ORDER BY n.common DESC, n.a, n.b LIMIT 20
        """,
        "kg_kcore": f"""
            SELECT name, core_degree FROM read_parquet('{graph["golden_kcore"]}')
        """,
        "kg_ktruss": f"""
            SELECT a, b, support FROM read_parquet('{graph["golden_ktruss"]}')
        """,
        "kg_component_sizes": f"""
            SELECT size, n_components
            FROM read_parquet('{graph["golden_component_sizes"]}')
        """,
        "kg_neighborhood_function": f"""
            SELECT t, reachable_pairs
            FROM read_parquet('{graph["golden_neighborhood"]}')
        """,
        "kg_shortest_path": f"""
            SELECT found, hops, path_str
            FROM read_parquet('{graph["golden_shortest_path"]}')
        """,
        "kg_wl_roles": f"""
            SELECT wl_label, n_vertices
            FROM read_parquet('{graph["golden_wl_roles"]}')
        """,
        "kg_closeness": f"""
            SELECT name, n_reached, harmonic60, closeness
            FROM read_parquet('{graph["golden_closeness"]}')
        """,
        "kg_betweenness": f"""
            SELECT name, betweenness
            FROM read_parquet('{graph["golden_betweenness"]}')
        """,
        "kg_global_search": f"""
            SELECT level, community_id, title, answer, helpfulness, score
            FROM read_parquet('{graph["golden_global_search"]}')
        """,
        "kg_drift_search": f"""
            SELECT name, score FROM read_parquet('{graph["golden_drift_search"]}')
        """,
        "kg_local_search": f"""
            SELECT name, score FROM read_parquet('{graph["golden_local_search"]}')
        """,
        "kg_local_context": f"""
            SELECT chunk_id, chunk_score, n_entities
            FROM read_parquet('{graph["golden_local_context"]}')
        """,
        "kg_communities": f"""
            SELECT level, community_id, parent, entity_id
            FROM read_parquet('{graph["golden_communities"]}')
        """,
        # Union-kNN sparsification: same symmetrize + per-endpoint window
        # over the golden triples' (least, greatest) sighting counts.
        "kg_sparsified": f"""
            WITH tri AS (
                SELECT subj, obj FROM read_parquet('{triples}')
                WHERE subj <> obj
            ), und AS (
                SELECT least(subj, obj) AS a, greatest(subj, obj) AS b,
                       cast(count(*) AS bigint) AS weight
                FROM tri GROUP BY 1, 2
            ), sym AS (
                SELECT a AS u, b AS v, weight FROM und
                UNION ALL
                SELECT b, a, weight FROM und
            ), r AS (
                SELECT u, v, weight,
                       row_number() OVER (
                           PARTITION BY u
                           ORDER BY weight DESC, v ASC) AS rnk
                FROM sym
            ), e AS (
                SELECT least(u, v) AS a, greatest(u, v) AS b, weight,
                       max(CASE WHEN u < v THEN rnk END) AS rank_a,
                       max(CASE WHEN u > v THEN rnk END) AS rank_b
                FROM r GROUP BY 1, 2, 3
            )
            SELECT a, b, weight,
                   cast(rank_a AS bigint) AS rank_a,
                   cast(rank_b AS bigint) AS rank_b
            FROM e WHERE rank_a <= 2 OR rank_b <= 2
        """,
        # Retrieve->rerank: golden local-context shortlist + the same
        # token-set Jaccard micro-units over the per-turn transcript text
        # (chunk text == turn text under the per-turn grain invariant).
        "kg_rerank_context": f"""
            WITH cand AS (
                SELECT c.chunk_id, c.chunk_score, c.n_entities, tr.text
                FROM read_parquet('{graph["golden_local_context"]}') c
                JOIN (
                    SELECT conv_id || '_' || cast(turn_idx AS varchar)
                               AS chunk_id,
                           text
                    FROM read_parquet('{transcripts}')
                ) tr USING (chunk_id)
            ), toks AS (
                SELECT chunk_id, chunk_score, n_entities,
                       list_distinct(list_filter(
                           string_split_regex(
                               lower(regexp_replace(text, '[^a-zA-Z0-9 ]',
                                                    ' ', 'g')), ' +'),
                           x -> x <> '')) AS t
                FROM cand
            ), scored AS (
                SELECT chunk_id, chunk_score, n_entities,
                       cast(len(list_intersect(t,
                                ['who', 'acquired', 'acme', 'corp']))
                            AS bigint) AS i,
                       cast(len(list_distinct(list_concat(t,
                                ['who', 'acquired', 'acme', 'corp'])))
                            AS bigint) AS u
                FROM toks
            ), final AS (
                SELECT chunk_id, chunk_score, n_entities,
                       CASE WHEN u = 0 THEN 0
                            ELSE (1000000 * i) // u END AS rerank_micro,
                       row_number() OVER (
                           ORDER BY (CASE WHEN u = 0 THEN 0
                                          ELSE (1000000 * i) // u END) DESC,
                                    chunk_id ASC) AS rerank_rnk
                FROM scored
            )
            SELECT chunk_id, chunk_score, n_entities,
                   cast(rerank_micro AS bigint) AS rerank_micro,
                   cast(rerank_rnk AS bigint) AS rerank_rnk
            FROM final WHERE rerank_rnk <= 5
        """,
        "kg_community_modularity": f"""
            WITH e0 AS (
                SELECT substr(sha256(subj), 1, 32) AS a0,
                       substr(sha256(obj), 1, 32) AS b0
                FROM read_parquet('{triples}') GROUP BY subj, obj
            ), und AS (
                SELECT DISTINCT least(a0, b0) AS a, greatest(a0, b0) AS b
                FROM e0 WHERE a0 <> b0
            ), mm AS (
                SELECT count(*) AS m FROM und
            ), sym AS (
                SELECT a AS u FROM und UNION ALL SELECT b FROM und
            ), deg AS (
                SELECT u, count(*) AS deg FROM sym GROUP BY u
            ), part AS (
                SELECT level, community_id, entity_id
                FROM read_parquet('{graph["golden_communities"]}')
            ), d_c AS (
                SELECT p.level, p.community_id, cast(sum(deg.deg) AS bigint) AS d_c
                FROM deg JOIN part p ON deg.u = p.entity_id
                GROUP BY p.level, p.community_id
            ), e_c AS (
                SELECT pu.level, pu.community_id, count(*) AS e_c
                FROM und
                JOIN part pu ON und.a = pu.entity_id
                JOIN part pv ON und.b = pv.entity_id
                WHERE pu.community_id = pv.community_id AND pu.level = pv.level
                GROUP BY pu.level, pu.community_id
            )
            SELECT d_c.level, d_c.community_id,
                   cast(coalesce(e_c.e_c, 0) AS bigint) AS e_c,
                   d_c.d_c,
                   round(coalesce(e_c.e_c, 0) / cast(mm.m AS double)
                         - pow(d_c.d_c / (2.0 * mm.m), 2), 6) AS q_contrib
            FROM d_c LEFT JOIN e_c USING (level, community_id), mm
        """,
        "kg_community_stats": f"""
            SELECT level, community_id, size, density, flow
            FROM read_parquet('{graph["golden_community_stats"]}')
        """,
        "kg_summaries": f"""
            SELECT level, community_id, title, rating, summary
            FROM read_parquet('{graph["golden_summaries"]}')
        """,
        "kg_query_topk": f"""
            SELECT level, community_id, title, score
            FROM read_parquet('{graph["golden_query_topk"]}')
        """,
        "kg_chunks": f"""
            SELECT conv_id, turn_idx,
                   conv_id || '_' || cast(turn_idx AS varchar) AS chunk_id,
                   text
            FROM read_parquet('{transcripts}')
        """,
        "kg_reassembly": f"""
            SELECT conv_id,
                   string_agg(text, ' ' ORDER BY turn_idx) AS conversation,
                   count(*) AS n_turns
            FROM read_parquet('{transcripts}')
            GROUP BY conv_id
        """,
        "kg_top_entities_by_degree": f"""
            WITH merged AS (
                SELECT subj AS src, obj AS dst FROM read_parquet('{triples}')
                GROUP BY subj, obj
            ), deg AS (
                SELECT name, count(*) AS degree FROM (
                    SELECT src AS name FROM merged
                    UNION ALL
                    SELECT dst AS name FROM merged
                ) GROUP BY name
            )
            SELECT name, degree FROM deg
            ORDER BY degree DESC, name ASC LIMIT 10
        """,
        # ---- relational breadth ----
        "agg_pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   cast(sum(cast(l_quantity AS bigint)) AS bigint) AS sum_qty,
                   cast(sum(cast(floor(l_extendedprice * 100 + 0.5) AS bigint)) AS bigint) AS sum_base_price_cents,
                   cast(sum(cast(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS bigint)) AS bigint) AS sum_disc_price_cents,
                   count(*) AS count_order
            FROM lineitem
            GROUP BY l_returnflag, l_linestatus
        """,
        "join_customer_orders": """
            SELECT c_nationkey, count(*) AS n_orders,
                   cast(sum(cast(floor(o_totalprice * 100 + 0.5) AS bigint)) AS bigint) AS total_price_cents
            FROM orders JOIN customer ON o_custkey = c_custkey
            GROUP BY c_nationkey
        """,
        "semi_join_customers": """
            SELECT c_nationkey, count(*) AS n_customers_with_orders
            FROM customer c
            WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
            GROUP BY c_nationkey
        """,
        "anti_join_customers": """
            SELECT c_nationkey, count(*) AS n_customers_without_orders
            FROM customer c
            WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
            GROUP BY c_nationkey
        """,
        "topk_orders": """
            SELECT o_orderkey, o_custkey, round(o_totalprice, 4) AS o_totalprice
            FROM orders
            ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10
        """,
        "window_events": """
            SELECT user_id, event_id,
                   row_number() OVER w AS rn,
                   round(lag(value) OVER w, 6) AS prev_value
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        """,
        # ---- training-data toolbox ----
        "doc_fingerprint": """
            SELECT doc_id,
                   md5(text) AS fp_raw,
                   md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]+', ' ', 'g'), '\\s+', ' ', 'g'))) AS fp_norm
            FROM documents
        """,
        "dedup_exact": """
            SELECT md5(text) AS text_hash, count(*) AS n_docs,
                   min(doc_id) AS representative_id
            FROM documents
            GROUP BY md5(text) HAVING count(*) > 1
        """,
        "dedup_normalized": """
            SELECT md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]+', ' ', 'g'), '\\s+', ' ', 'g'))) AS norm_hash,
                   count(*) AS n_docs, min(doc_id) AS representative_id
            FROM documents
            GROUP BY 1 HAVING count(*) > 1
        """,
        "token_stats": """
            WITH toks AS (
                SELECT lang,
                       CASE WHEN trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]+', ' ', 'g'), '\\s+', ' ', 'g')) = ''
                            THEN 0
                            ELSE len(string_split(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]+', ' ', 'g'), '\\s+', ' ', 'g')), ' '))
                       END AS n_tokens
                FROM documents
            )
            SELECT lang, count(*) AS n_docs,
                   cast(sum(n_tokens) AS bigint) AS total_tokens,
                   cast(floor(cast(sum(n_tokens) AS double) * 1000000.0 / count(*)) AS bigint) AS avg_tokens_x1e6
            FROM toks GROUP BY lang
        """,
        "multimodal_features": """
            SELECT cast(doc_id AS varchar) AS media_id,
                   'image' AS kind,
                   cast(octet_length(encode(text)) AS int) AS n_bytes
            FROM documents
        """,
        "text_quality": f"""
            WITH g AS (
                SELECT doc_id, text, {_DDB_TEXT_NORM} AS norm FROM documents
            ), h AS (
                SELECT doc_id,
                       CASE WHEN norm = '' THEN 0 ELSE len(string_split(norm, ' ')) END AS n_tokens,
                       length(text) AS n_chars,
                       length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS punct,
                       length(regexp_replace(text, '[^A-Z]', '', 'g')) AS upper_c,
                       len(list_filter(string_split(norm, ' '),
                           x -> list_contains({_SW_EN}, x))) AS sw
                FROM g
            )
            SELECT doc_id, n_tokens,
                   round(CASE WHEN n_tokens > 0 THEN sw * 1.0 / n_tokens ELSE 0 END, 6) AS stopword_ratio,
                   round(CASE WHEN n_chars > 0 THEN punct * 1.0 / n_chars ELSE 0 END, 6) AS punct_ratio,
                   round(
                       least(n_tokens / 100.0, 1.0) * 0.4
                       + least(CASE WHEN n_tokens > 0 THEN sw * 1.0 / n_tokens ELSE 0 END * 5.0, 1.0) * 0.3
                       + (1.0 - least(CASE WHEN n_chars > 0 THEN punct * 1.0 / n_chars ELSE 0 END * 10.0, 1.0)) * 0.2
                       + (1.0 - least(CASE WHEN n_chars > 0 THEN upper_c * 1.0 / n_chars ELSE 0 END * 5.0, 1.0)) * 0.1,
                       6) AS quality_score
            FROM h
        """,
        "lang_id": f"""
            WITH g AS (
                SELECT doc_id, lang, string_split({_DDB_TEXT_NORM}, ' ') AS toks FROM documents
            ), h AS (
                SELECT doc_id, lang,
                       len(list_filter(toks, x -> list_contains({_SW_EN}, x))) AS h_en,
                       len(list_filter(toks, x -> list_contains({_SW_DE}, x))) AS h_de,
                       len(list_filter(toks, x -> list_contains({_SW_FR}, x))) AS h_fr,
                       len(list_filter(toks, x -> list_contains({_SW_ES}, x))) AS h_es
                FROM g
            )
            SELECT doc_id, lang,
                   CASE WHEN greatest(h_en, h_de, h_fr, h_es) = 0 THEN 'und'
                        WHEN h_en = greatest(h_en, h_de, h_fr, h_es) THEN 'en'
                        WHEN h_de = greatest(h_en, h_de, h_fr, h_es) THEN 'de'
                        WHEN h_fr = greatest(h_en, h_de, h_fr, h_es) THEN 'fr'
                        ELSE 'es' END AS lang_pred
            FROM h
        """,
        "bpe_token_stats": f"""
            WITH toks AS (
                SELECT lang,
                       len(regexp_extract_all(text, {_DDB_BPE_RE})) AS n_bpe,
                       CASE WHEN trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]+', ' ', 'g'), '\\s+', ' ', 'g')) = ''
                            THEN 0
                            ELSE len(string_split(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]+', ' ', 'g'), '\\s+', ' ', 'g')), ' '))
                       END AS n_ws
                FROM documents
            )
            SELECT lang, count(*) AS n_docs,
                   cast(sum(n_bpe) AS bigint) AS total_bpe_tokens,
                   cast(sum(n_ws) AS bigint) AS total_ws_tokens
            FROM toks GROUP BY lang
        """,
        "bpe_merged_lossless": """
            SELECT doc_id, CAST(strlen(text) AS bigint) AS n_bytes
            FROM documents
        """,
        "embedding_sq8": """
            WITH v AS (
                SELECT vec_id,
                       list_transform(embedding, x -> cast(x AS double)) AS vv
                FROM embeddings
            ), s AS (
                SELECT vec_id, vv,
                       list_max(list_transform(vv, x -> abs(x))) / 127.0 AS sc
                FROM v
            )
            SELECT vec_id,
                   cast(round(sc * 1000000) AS bigint) AS scale_micro,
                   CASE WHEN sc > 0
                        THEN list_transform(vv, x -> cast(round(x / sc) AS int))
                        ELSE list_transform(vv, x -> 0)
                   END AS q
            FROM s
        """,
        "zorder_events": zorder_events_sql,
        "similarity_topk": """
            WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0),
                 e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE vec_id != 0)
            SELECT vec_id,
                   round(CASE WHEN sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv)) = 0
                              THEN 0.0
                              ELSE list_dot_product(v, qv)
                                   / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv)))
                         END, 6) AS cosine
            FROM e, q
            ORDER BY cosine DESC, vec_id ASC
            LIMIT 10
        """,
        "knn_join_sample": """
            WITH l AS (SELECT vec_id AS left_id, CAST(embedding AS DOUBLE[]) AS lv
                       FROM embeddings WHERE vec_id < 20),
                 r AS (SELECT vec_id AS right_id, CAST(embedding AS DOUBLE[]) AS rv
                       FROM embeddings),
                 scored AS (
                     SELECT left_id, right_id,
                            round(list_dot_product(lv, rv)
                                  / (sqrt(list_dot_product(lv, lv)) * sqrt(list_dot_product(rv, rv))),
                                  6) AS cosine
                     FROM l JOIN r ON left_id != right_id
                 ), ranked AS (
                     SELECT left_id, right_id, cosine,
                            row_number() OVER (PARTITION BY left_id
                                               ORDER BY cosine DESC, right_id ASC) AS rank
                     FROM scored
                 )
            SELECT left_id, right_id, cosine, cast(rank AS int) AS rank
            FROM ranked WHERE rank <= 3
        """,
        "embedding_dup_pairs": """
            WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
                 scored AS (
                     SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                            round(CASE WHEN sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)) = 0
                                       THEN 0.0
                                       ELSE list_dot_product(a.v, b.v)
                                            / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))
                                  END, 6) AS cosine
                     FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
                 )
            SELECT id_a, id_b, cosine FROM scored WHERE cosine >= 0.3
        """,
        "windowed_activity": f"""
            WITH w AS (
                SELECT (cast(floor(epoch(ts) / 300) AS bigint) - k.k) * 300 AS ws,
                       role, conv_id
                FROM read_parquet('{transcripts}')
                CROSS JOIN (SELECT unnest([0, 1]) AS k) k
            )
            SELECT ws, role,
                   count(*) AS n_turns,
                   count(DISTINCT conv_id) AS n_convs
            FROM w GROUP BY ws, role
        """,
        "asof_purchase_click": """
            WITH p AS (
                SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
            ), c AS (
                SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
                QUALIFY row_number() OVER (PARTITION BY user_id, ts ORDER BY event_id DESC) = 1
            )
            SELECT p.event_id, p.user_id,
                   epoch_us(p.ts) AS ts_us,
                   c.event_id AS click_event_id,
                   epoch_us(p.ts) - epoch_us(c.ts) AS lag_us
            FROM p ASOF LEFT JOIN c
              ON p.user_id = c.user_id AND p.ts >= c.ts
        """,
        "interval_join_clicks": """
            WITH c AS (
                SELECT event_id AS click_id, user_id, ts
                FROM events WHERE event_type = 'click'
            ), p AS (
                SELECT event_id AS purchase_id, user_id, ts AS start_ts
                FROM events WHERE event_type = 'purchase'
            )
            SELECT c.click_id, c.user_id, p.purchase_id,
                   epoch_us(c.ts) - epoch_us(p.start_ts) AS delta_us
            FROM c JOIN p
              ON c.user_id = p.user_id
             AND c.ts >= p.start_ts
             AND c.ts < p.start_ts + INTERVAL 30 MINUTE
            ORDER BY click_id, purchase_id
        """,
        "event_sessions": """
            WITH o AS (
                SELECT user_id, event_id, value, ts, epoch_us(ts) AS us FROM events
            ), l AS (
                SELECT *, lag(us) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
                FROM o
            ), n AS (
                SELECT *, CASE WHEN prev IS NULL OR us - prev > 21600000000
                               THEN 1 ELSE 0 END AS ns
                FROM l
            ), s AS (
                SELECT *, sum(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                        ROWS UNBOUNDED PRECEDING) AS session_idx
                FROM n
            )
            SELECT user_id, cast(session_idx AS bigint) AS session_idx,
                   min(us) AS start_us, max(us) AS end_us,
                   count(*) AS n_events,
                   cast(sum(cast(value AS decimal(14,2))) * 100 AS bigint) AS total_cents
            FROM s GROUP BY user_id, session_idx
        """,
        "pii_scrub": f"""
            SELECT doc_id,
                   {pii_red} AS text_redacted,
                   {pii_counts_sql},
                   cast({pii_total_sql} AS bigint) AS n_pii
            FROM documents
        """,
        "boilerplate_segments": f"""
            WITH docs AS (
                SELECT conv_id || '_' || cast(turn_idx AS varchar) AS doc_id, text
                FROM read_parquet('{transcripts}')
            ), total AS (SELECT count(*) AS n FROM docs),
            segs AS (
                SELECT DISTINCT doc_id, seg.s AS segment
                FROM docs, unnest({ddb_segments}) AS seg(s)
                WHERE length(seg.s) <= 1000
            )
            SELECT segment, count(*) AS n_docs
            FROM segs GROUP BY segment
            HAVING count(*) >= greatest(2, ceil(0.01 * (SELECT n FROM total)))
        """,
        "repetition_stats": f"""
            WITH g AS (
                SELECT doc_id, {_DDB_TEXT_NORM} AS norm,
                       {ddb_segments} AS segs
                FROM documents
            ), b AS (
                SELECT doc_id,
                       list_filter(string_split(norm, ' '), x -> x <> '') AS w,
                       segs
                FROM g
            ), f AS (
                SELECT doc_id, len(w) AS n_words, len(list_distinct(w)) AS n_dw,
                       len(segs) AS n_segs, len(list_distinct(segs)) AS n_ds
                FROM b
            ), t AS (
                SELECT doc_id, max(c) AS top_c FROM (
                    SELECT doc_id, u.wrd, count(*) AS c
                    FROM b, unnest(w) AS u(wrd) GROUP BY doc_id, u.wrd
                ) GROUP BY doc_id
            )
            SELECT f.doc_id AS id, cast(n_words AS bigint) AS n_words,
                   round(CASE WHEN n_words > 0
                              THEN (n_words - n_dw) * 1.0 / n_words ELSE 0 END, 6)
                       AS dup_word_frac,
                   round(CASE WHEN n_words > 0
                              THEN coalesce(top_c, 0) * 1.0 / n_words ELSE 0 END, 6)
                       AS top_word_frac,
                   round(CASE WHEN n_segs > 0
                              THEN (n_segs - n_ds) * 1.0 / n_segs ELSE 0 END, 6)
                       AS dup_segment_frac
            FROM f LEFT JOIN t USING (doc_id)
        """,
        "ngram_repetition": NGRAM_REPETITION_SQL,
        "decontamination": f"""
            WITH t AS (
                SELECT doc_id, fp FROM read_parquet('{docops["golden_winnow_fps"]}')
                WHERE doc_id < 50
            ), r AS (
                SELECT doc_id AS tid, fp FROM read_parquet('{docops["golden_winnow_fps"]}')
                WHERE doc_id >= 50
            ), tot AS (
                SELECT doc_id, count(*) AS n_fps FROM t GROUP BY doc_id
            ), sh AS (
                SELECT t.doc_id,
                       count(DISTINCT t.fp) AS n_shared_fps,
                       count(DISTINCT r.tid) AS n_train_docs
                FROM t JOIN r USING (fp) GROUP BY t.doc_id
            )
            SELECT tot.doc_id AS test_id,
                   cast(n_fps AS bigint) AS n_fps,
                   cast(coalesce(n_shared_fps, 0) AS bigint) AS n_shared_fps,
                   cast(coalesce(n_train_docs, 0) AS bigint) AS n_train_docs,
                   round(coalesce(n_shared_fps, 0) * 1.0 / n_fps, 6) AS contamination
            FROM tot LEFT JOIN sh USING (doc_id)
        """,
        "sample_deterministic": f"""
            SELECT doc_id, lang FROM documents
            WHERE {samp_key} < '{thr_25}'
        """,
        "sample_stratified": f"""
            SELECT doc_id, lang FROM documents
            WHERE {samp_key} < {strat_case}
        """,
        "corpus_profile": f"""
            WITH t AS (SELECT lang AS grp, {ddb_ntokens} AS n_tokens FROM documents)
            SELECT grp, count(*) AS n_docs,
                   cast(sum(n_tokens) AS bigint) AS total_tokens,
                   round(avg(n_tokens), 6) AS mean_tokens,
                   round(quantile_cont(n_tokens, 0.5), 6) AS median_tokens,
                   round(quantile_cont(n_tokens, 0.95), 6) AS p95_tokens
            FROM t GROUP BY grp
        """,
        "corpus_splits": f"""
            WITH s AS (
                SELECT doc_id,
                       CASE WHEN {samp_key} < '{_hex_threshold(0.8)}' THEN 'train'
                            WHEN {samp_key} < '{_hex_threshold(0.9)}' THEN 'val'
                            ELSE 'test' END AS split
                FROM documents
            )
            SELECT split, count(*) AS n_docs,
                   cast(sum(doc_id) AS bigint) AS id_checksum
            FROM s GROUP BY split
        """,
        "pack_bins": f"""
            WITH b AS (
                SELECT doc_id,
                       substr(md5(cast(doc_id AS varchar)), 1, 1) AS shard,
                       cast({ddb_ntokens} AS bigint) AS n_tokens
                FROM documents
            ), c AS (
                SELECT *, sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                                              ROWS UNBOUNDED PRECEDING) AS cum
                FROM b
            ), p AS (
                SELECT shard || '_' ||
                       cast(cast(floor((cum - n_tokens) * 1.0 / 256) AS bigint) AS varchar)
                           AS bin_id,
                       n_tokens
                FROM c
            )
            SELECT bin_id, count(*) AS n_docs,
                   cast(sum(n_tokens) AS bigint) AS total_tokens,
                   round(sum(n_tokens) / 256.0, 6) AS fill_ratio
            FROM p GROUP BY bin_id
        """,
        "kg_chunks_windowed": """
            WITH d AS (
                SELECT cast(doc_id AS varchar) AS source_id,
                       string_split(text, ' ') AS toks
                FROM documents WHERE text IS NOT NULL AND text != ''
            ), p AS (
                SELECT source_id, toks, len(toks) AS n_tok,
                       CASE WHEN len(toks) <= 20 THEN 1
                            ELSE cast(ceil((len(toks) - 20) / 15.0) AS int) + 1
                       END AS n_win
                FROM d
            ), w AS (
                SELECT source_id, toks, n_tok, unnest(range(n_win)) AS i FROM p
            )
            SELECT source_id, cast(i AS int) AS n,
                   source_id || '_' || cast(i AS varchar) AS chunk_id,
                   array_to_string(toks[i*15+1 : least(i*15+20, n_tok)], ' ') AS text
            FROM w
        """,
        "kg_chunks_bpe": f"""
            WITH d AS (
                SELECT cast(doc_id AS varchar) AS source_id,
                       regexp_extract_all(text, {_DDB_BPE_RE}) AS toks
                FROM documents WHERE text IS NOT NULL AND text != ''
            ), p AS (
                SELECT source_id, toks, len(toks) AS n_tok,
                       CASE WHEN len(toks) <= 20 THEN 1
                            ELSE cast(ceil((len(toks) - 20) / 15.0) AS int) + 1
                       END AS n_win
                FROM d WHERE len(toks) > 0
            ), w AS (
                SELECT source_id, toks, n_tok, unnest(range(n_win)) AS i FROM p
            )
            SELECT source_id, cast(i AS int) AS n,
                   source_id || '_' || cast(i AS varchar) AS chunk_id,
                   array_to_string(toks[i*15+1 : least(i*15+20, n_tok)], '') AS text
            FROM w
        """,
        "vector_rag_topk": f"""
            SELECT chunk_id, cosine
            FROM read_parquet('{docops["golden_vector_rag"]}')
        """,
        "doc_winnow_fp": f"""
            SELECT doc_id, n_fps, min_fp
            FROM read_parquet('{docops["golden_winnow"]}')
        """,
        "dedup_simhash": f"""
            SELECT simhash, n_docs, representative_id
            FROM read_parquet('{docops["golden_simhash"]}')
        """,
        "dedup_minhash_lsh": f"""
            SELECT id_a, id_b, jaccard
            FROM read_parquet('{docops["golden_minhash_lsh"]}')
        """,
        "dedup_keeper_map": f"""
            SELECT doc_id, keeper_id, is_keeper
            FROM read_parquet('{docops["golden_keeper_map"]}')
        """,
        "dedup_keeper_map_altcc": f"""
            SELECT doc_id, keeper_id, is_keeper
            FROM read_parquet('{docops["golden_keeper_map"]}')
        """,
        "dedup_incremental": f"""
            SELECT id_a, id_b, est_jaccard
            FROM read_parquet('{docops["golden_incr_dedup"]}')
        """,
        "dup_span_stats": f"""
            SELECT doc_id, n_tok, n_windows, n_dup_windows, dup_tokens, dup_token_frac
            FROM read_parquet('{docops["golden_span_stats"]}')
        """,
        "dup_span_removal": f"""
            SELECT doc_id, text, n_tok, removed_tokens
            FROM read_parquet('{docops["golden_span_removed"]}')
        """,
        "image_dup_pairs": f"""
            SELECT id_a, id_b, hamming
            FROM read_parquet('{docops["golden_image_dups"]}')
        """,
        "audio_dup_pairs": f"""
            SELECT id_a, id_b, hamming
            FROM read_parquet('{docops["golden_audio_dups"]}')
        """,
        "bpe_merged_token_stats": f"""
            SELECT lang, n_docs, total_merged_tokens
            FROM read_parquet('{docops["golden_bpe_stats"]}')
        """,
        "doc_clusters": f"""
            SELECT cluster_id, n_vecs, min_vec_id, mean_cos
            FROM read_parquet('{docops["golden_doc_clusters"]}')
        """,
        "cluster_balanced_ids": f"""
            SELECT vec_id FROM read_parquet('{docops["golden_cluster_sample"]}')
        """,
        "ann_lsh_topk": f"""
            SELECT vec_id, cosine
            FROM read_parquet('{docops["golden_ann_lsh_topk"]}')
        """,
        "ann_ivf_topk": f"""
            SELECT vec_id, cosine
            FROM read_parquet('{docops["golden_ann_ivf_topk"]}')
        """,
        "semantic_dedup": f"""
            SELECT doc_id, cluster_id, cent_cos, max_dup_cos, kept
            FROM read_parquet('{docops["golden_semantic_dedup"]}')
        """,
        "quality_classifier": f"""
            SELECT doc_id, n_feats, logit_sum, logit, keep
            FROM read_parquet('{docops["golden_quality_classifier"]}')
        """,
        "sample_mixture": f"""
            WITH toks AS (
                SELECT doc_id, source,
                       CASE WHEN {_DDB_TEXT_NORM} = '' THEN 0
                            ELSE len(string_split({_DDB_TEXT_NORM}, ' '))
                       END AS n_tokens
                FROM documents
            ), budgeted AS (
                SELECT *,
                       CASE source WHEN 'src0' THEN 300 WHEN 'src1' THEN 120
                                   WHEN 'src2' THEN 0 WHEN 'src3' THEN 10000000
                       END AS budget
                FROM toks WHERE source IN ('src0', 'src1', 'src2', 'src3')
            ), cum AS (
                SELECT *,
                       sum(n_tokens) OVER (
                           PARTITION BY source
                           ORDER BY substring(md5(cast(doc_id AS varchar)), 1, 6),
                                    doc_id
                           ROWS UNBOUNDED PRECEDING
                       ) AS cum_tokens
                FROM budgeted
            )
            SELECT doc_id, source, cast(n_tokens AS bigint) AS n_tokens,
                   cast(cum_tokens AS bigint) AS cum_tokens
            FROM cum WHERE cum_tokens <= budget
            ORDER BY doc_id
        """,
        "ann_pq_topk": f"""
            SELECT vec_id, adist
            FROM read_parquet('{docops["golden_ann_pq_topk"]}')
        """,
        "dedup_ngram_jaccard": f"""
            WITH d AS (
                SELECT doc_id, lang, {_DDB_TEXT_NORM} AS norm FROM documents
            ), s AS (
                SELECT doc_id, lang,
                       CASE WHEN len(string_split(norm, ' ')) < 3 THEN [norm]
                            ELSE list_distinct(list_transform(
                                range(1, len(string_split(norm, ' ')) - 1),
                                i -> array_to_string(string_split(norm, ' ')[i:i+2], ' ')))
                       END AS sh
                FROM d
            ), scored AS (
                SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                       round(CASE WHEN len(list_distinct(list_concat(a.sh, b.sh))) = 0 THEN 1.0
                                  ELSE len(list_intersect(a.sh, b.sh)) * 1.0
                                       / len(list_distinct(list_concat(a.sh, b.sh)))
                             END, 6) AS jaccard
                FROM s a JOIN s b ON a.lang = b.lang AND a.doc_id < b.doc_id
            )
            SELECT id_a, id_b, jaccard FROM scored WHERE jaccard >= 0.5
        """,
        # Source reputation: per-doc quality_score (same expression as the
        # text_quality oracle) quantized to integer micros so the per-source
        # sum is exact; two exactly-rounded divisions at the end.
        "source_reputation_profile": f"""
            WITH g AS (
                SELECT doc_id, source, text, {_DDB_TEXT_NORM} AS norm FROM documents
            ), h AS (
                SELECT doc_id, source,
                       CASE WHEN norm = '' THEN 0 ELSE len(string_split(norm, ' ')) END AS n_tokens,
                       length(text) AS n_chars,
                       length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS punct,
                       length(regexp_replace(text, '[^A-Z]', '', 'g')) AS upper_c,
                       len(list_filter(string_split(norm, ' '),
                           x -> list_contains({_SW_EN}, x))) AS sw
                FROM g
            ), s AS (
                SELECT doc_id, source,
                       round(
                           least(n_tokens / 100.0, 1.0) * 0.4
                           + least(CASE WHEN n_tokens > 0 THEN sw * 1.0 / n_tokens ELSE 0 END * 5.0, 1.0) * 0.3
                           + (1.0 - least(CASE WHEN n_chars > 0 THEN punct * 1.0 / n_chars ELSE 0 END * 10.0, 1.0)) * 0.2
                           + (1.0 - least(CASE WHEN n_chars > 0 THEN upper_c * 1.0 / n_chars ELSE 0 END * 5.0, 1.0)) * 0.1,
                           6) AS quality_score
                FROM h
            )
            SELECT source,
                   cast(count(*) AS bigint) AS n_docs,
                   round(cast(sum(cast(floor(quality_score * 1e6 + 0.5) AS bigint))
                              AS bigint)
                         / count(*) / 1e6, 6) AS avg_quality,
                   cast(sum(CASE WHEN quality_score < 0.5 THEN 1 ELSE 0 END) AS bigint)
                       AS n_low,
                   round(sum(CASE WHEN quality_score < 0.5 THEN 1 ELSE 0 END)
                         / count(*), 6) AS low_frac
            FROM s
            GROUP BY source
        """,
        # Exact-integer LM novelty: trigram occurrence/model counts are
        # integers; rare_frac is one exactly-rounded division.
        "trigram_novelty_scores": f"""
            WITH d AS (
                SELECT doc_id, {_DDB_TEXT_NORM} AS t FROM documents
                WHERE len({_DDB_TEXT_NORM}) >= 3
            ), g AS (
                SELECT doc_id, substr(t, cast(i AS int), 3) AS gram
                FROM d, unnest(range(1, len(t) - 1)) AS u(i)
            ), m AS (
                SELECT gram, count(*) AS corpus_n FROM g GROUP BY gram
            )
            SELECT g.doc_id,
                   cast(count(*) AS bigint) AS n_grams,
                   cast(sum(CASE WHEN m.corpus_n < 10 THEN 1 ELSE 0 END) AS bigint)
                       AS n_rare,
                   round(sum(CASE WHEN m.corpus_n < 10 THEN 1 ELSE 0 END)
                         / count(*), 6) AS rare_frac
            FROM g JOIN m USING (gram)
            GROUP BY g.doc_id
        """,
        # Integer-exact sparse cosine: tf counts stay integers through the
        # dot and the norms, so the only FP ops are one cast-product, one
        # sqrt, one division — all exactly rounded, engine-deterministic.
        "tfidf_similar_docs": f"""
            WITH toks AS (
                SELECT doc_id, unnest(string_split({_DDB_TEXT_NORM}, ' ')) AS term
                FROM documents WHERE {_DDB_TEXT_NORM} <> ''
            ), tf AS (
                SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term
            ), dfq AS (
                SELECT term FROM (
                    SELECT term, count(*) AS df FROM tf GROUP BY term
                ) t WHERE df BETWEEN 2 AND 250
            ), kept AS (
                SELECT tf.doc_id, tf.term, tf.tf FROM tf JOIN dfq USING (term)
            ), norms AS (
                SELECT doc_id, sum(tf * tf) AS n2 FROM kept GROUP BY doc_id
            ), dots AS (
                SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                       cast(sum(a.tf * b.tf) AS bigint) AS dot
                FROM kept a JOIN kept b
                  ON a.term = b.term AND a.doc_id < b.doc_id
                GROUP BY a.doc_id, b.doc_id
            )
            SELECT d.doc_a, d.doc_b, d.dot,
                   round(d.dot / sqrt(cast(na.n2 AS double) * cast(nb.n2 AS double)), 6)
                       AS cosine
            FROM dots d
            JOIN norms na ON na.doc_id = d.doc_a
            JOIN norms nb ON nb.doc_id = d.doc_b
            ORDER BY cosine DESC, d.doc_a, d.doc_b LIMIT 20
        """,
    }
