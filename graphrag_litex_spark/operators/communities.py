"""F1/F2/E5/E6: community detection, hierarchy, stats, summaries.

The reference runs two-level Infomap (Louvain fallback) via NetworkX
(/root/reference/indexing/community_detection.py:42-100) — effectively
UNWEIGHTED because its strength lookup never hits (SURVEY.md Q3). Infomap
does not exist on Spark; per SURVEY.md F1 the substitute is synchronous
**Label Propagation** as an iterative DataFrame loop (same skeleton as the
CC loop): each round every node adopts the most frequent label among its
neighbors (tie -> smallest label), which is deterministic and
order-independent. Communities are outside the triple P/R gate, so the
algorithm substitution is sanctioned; min-size enforcement, the hierarchy
recursion shape, and the stats formulas replicate the reference exactly:

  * min-size (E6, community_detection.py:102-116): communities smaller than
    ``min_size`` are merged into the largest valid community; if none is
    valid the largest small one is kept.
  * sub-levels (F2, :157-198): a community larger than 2*min_size is
    re-clustered on its induced subgraph; smaller ones are copied through
    with a parent pointer; sub-communities below min_size are dropped.
    All communities of a level are processed in ONE DataFrame pass.
  * stats (E5, :125-155): density = 2*internal/(n*(n-1)) (nx.density),
    flow = internal/(internal+external), description_length = binary
    entropy of (flow, 1-flow); external edges counted against the FULL
    graph, as the reference does for sub-levels too (:186).

Adaptive physical strategy (same stance as Catalyst's broadcast-vs-shuffle
choice, and as cc.py): the community graph is the DEDUPLICATED entity
graph — orders of magnitude smaller than the corpus — so when its state
(vertices + 2 x edge rows, ``iterutils.local_graph``) fits under
``driver_threshold`` (``iterutils.DRIVER_THRESHOLD``) the whole hierarchy
runs driver-locally in one pass, byte-identical to the distributed loop
(asserted in tests/test_communities.py). Larger graphs run the distributed DataFrame
loop, which is the path taken at 10^12-turn scale.

Graph tail (:func:`graph_tail`): under the same valve the pipeline builds
all four graph tables — communities, stats, summaries and summary
embeddings — from ONE collect of the entity graph. The hierarchy, member
degrees, E5 stats, titles/findings/sub-community reports and hash
embeddings are computed in one Python pass (:func:`graph_tail_py`) and
handed back as local frames, replacing the ~40 tiny Spark jobs of the
operator-by-operator path with one collect plus the stage writes. Its
output equals the Spark operators column for column, including Spark's
HALF_UP ``round`` and ``Double.toString`` casts (asserted in
tests/test_communities.py; ``description_length`` may differ in the last
ulp because Spark's ``log2`` runs on ``StrictMath``).

Divergence (documented): self-loop relationships are excluded from the
community graph (NetworkX would count them in density's numerator, skewing
the formula's simple-graph assumption).
"""

from __future__ import annotations

import math
from decimal import ROUND_HALF_UP, Decimal

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from graphrag_litex_spark.operators.iterutils import (
    DRIVER_THRESHOLD,
    hard_checkpoint,
    local_frame,
    local_graph,
    loop_shuffle_partitions,
    release,
)


def _und_edges(edges: DataFrame) -> DataFrame:
    """Distinct undirected pairs (u < v), self-loops dropped."""
    return (
        edges.select(
            F.least("src_id", "dst_id").alias("u"), F.greatest("src_id", "dst_id").alias("v")
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
    )


def _sym(und: DataFrame) -> DataFrame:
    return und.select("u", "v").union(und.select(F.col("v").alias("u"), F.col("u").alias("v")))


# ---- pure-Python kernels (driver-local adaptive path) ---------------------


def _lpa_py(ids: list, adj: dict, iters: int, seed: dict | None = None) -> dict:
    """Synchronous LPA kernel: most-frequent neighbor label, tie -> smallest
    label, isolated vertices reset to their own id, early stop on fixpoint.
    EXACTLY the distributed loop's semantics (identity-tested).
    ``seed``: warm-start labels (vertices absent from it init to own id)."""
    labels = {v: seed.get(v, v) for v in ids} if seed else {v: v for v in ids}
    for _ in range(iters):
        new = {}
        for u in ids:
            nbrs = adj.get(u)
            if not nbrs:
                new[u] = u
                continue
            counts: dict = {}
            for v in nbrs:
                lbl = labels[v]
                counts[lbl] = counts.get(lbl, 0) + 1
            new[u] = min(counts, key=lambda lbl: (-counts[lbl], lbl))
        if new == labels:
            break
        labels = new
    return labels


def _enforce_min_size_py(labels: dict, min_size: int) -> dict:
    """E6 kernel on a labels dict (mirrors the distributed version)."""
    sizes: dict = {}
    for lbl in labels.values():
        sizes[lbl] = sizes.get(lbl, 0) + 1
    valid = {lbl for lbl, sz in sizes.items() if sz >= min_size}
    if valid:
        target = min(valid, key=lambda lbl: (-sizes[lbl], lbl))
    elif sizes:
        target = min(sizes, key=lambda lbl: (-sizes[lbl], lbl))
        valid = {target}
    else:
        return {}
    return {u: (lbl if lbl in valid else target) for u, lbl in labels.items()}


def _hierarchy_py(
    ids: list,
    und_pairs: list,
    levels: int,
    min_size: int,
    iters: int,
    seed: dict | None = None,
) -> list[tuple]:
    """Full hierarchy driver-locally -> [(level, community_id, parent,
    entity_id)] with the SAME ids/semantics as the distributed level loop.
    ``seed`` warm-starts the level-0 LPA only (sub-levels re-cluster)."""
    adj: dict = {}
    for a, b in und_pairs:
        adj.setdefault(a, []).append(b)
        adj.setdefault(b, []).append(a)

    l0 = _enforce_min_size_py(_lpa_py(ids, adj, iters, seed=seed), min_size)
    rows = [(0, "0_" + lbl, None, u) for u, lbl in l0.items()]
    prev: dict = {}
    for _lvl, cid, _par, u in rows:
        prev.setdefault(cid, []).append(u)

    for level in range(1, levels):
        cur: list[tuple] = []
        nxt: dict = {}
        parent_of: dict = {}
        big_members: list = []
        for cid, members in prev.items():
            if len(members) <= 2 * min_size:
                child = f"{level}_{cid}"
                for u in members:
                    cur.append((level, child, cid, u))
                nxt[child] = list(members)
            else:
                for u in members:
                    parent_of[u] = cid
                big_members.extend(members)
        if big_members:
            # One LPA over all big parents at once on intra-parent edges —
            # exactly the distributed single-pass shape; no cross-parent
            # edges exist, so this equals per-parent LPA.
            sub_adj = {
                u: [v for v in adj.get(u, ()) if parent_of.get(v) == parent_of[u]]
                for u in big_members
            }
            sub = _lpa_py(big_members, sub_adj, iters)
            children: dict = {}
            for u, lbl in sub.items():
                children.setdefault(f"{level}_{lbl}", []).append(u)
            for child, cmembers in children.items():
                if len(cmembers) >= min_size:  # below min_size: dropped (F2)
                    cid = parent_of[cmembers[0]]
                    for u in cmembers:
                        cur.append((level, child, cid, u))
                    nxt[child] = cmembers
        rows.extend(cur)
        prev = nxt
    return rows


def _local_seed(seed_labels: DataFrame | None, ids: set) -> dict | None:
    """Warm-start labels for the driver-local kernels: {vertex: label} over
    ``ids`` (one collect). NULL labels are skipped — the distributed loop's
    coalesce falls back to the vertex's own id."""
    if seed_labels is None:
        return None
    return {
        u: lbl
        for u, lbl in seed_labels.select("entity_id", "label").collect()
        if u in ids and lbl is not None
    } or None


def _count_rows(a: DataFrame, b: DataFrame) -> int:
    """|a| + |b| in one job (sizes the distributed loop's shuffles)."""
    return a.select(F.lit(1)).unionAll(b.select(F.lit(1))).count()


# ---- distributed loops ----------------------------------------------------


def label_propagation(
    vertices: DataFrame,
    und_edges: DataFrame,
    iters: int = 8,
    driver_threshold: int = DRIVER_THRESHOLD,
    seed_labels: DataFrame | None = None,
) -> DataFrame:
    """Synchronous LPA -> (entity_id, label); deterministic tie-breaking.

    ``und_edges`` (u, v) is an undirected simple edge set — each pair once,
    no self-loops (what :func:`_und_edges` produces); edges leaving
    ``vertices`` carry no label.

    Adaptive: state below ``driver_threshold`` rows runs driver-locally
    (identical output, ~5x fewer tiny Spark jobs); larger graphs run the
    distributed loop below. Each distributed round is ONE eager checkpoint
    job (the changed-count is folded into a scan of the cached result, not
    a separate join job).

    ``seed_labels`` (entity_id, label) WARM-STARTS the loop: vertices
    found there initialize to the seeded label instead of their own id
    (absent/new vertices still self-init). Seeding with a converged
    labeling of the same graph is a fixpoint — the loop exits after ONE
    verification round (asserted in tests) — which is what makes
    incremental community refresh on an appended graph cheap: only the
    neighborhoods the new data touched move. The labeling an appended
    graph converges to from a warm seed is a valid LPA fixpoint but not
    necessarily the cold-start one (community assignment is not unique);
    downstream quality is gated by the same modularity metric as the
    cold path.
    """
    # Driver-local regime (iterutils.local_graph): raw-row limit probes of
    # the edges, then the vertices — no checkpoint, no count.
    g = local_graph(und_edges, "u", "v", driver_threshold, vertices, "entity_id")
    if g is not None:
        ids = set(g.vertices)
        adj = {u: [v for v in ns if v in ids] for u, ns in g.adj.items() if u in ids}
        labels = _lpa_py(g.vertices, adj, iters, seed=_local_seed(seed_labels, ids))
        return local_frame(
            vertices.sparkSession,
            list(labels.items()),
            ["entity_id", "label"],
            "entity_id string, label string",
        )
    sym = hard_checkpoint(_sym(und_edges))
    init = vertices.select(F.col("entity_id").alias("u"))
    if seed_labels is not None:
        init = init.join(
            seed_labels.select(F.col("entity_id").alias("u"), F.col("label").alias("_seed")),
            "u",
            "left",
        ).select("u", F.coalesce("_seed", F.col("u")).alias("label"))
    else:
        init = init.select("u", F.col("u").alias("label"))
    labels = hard_checkpoint(init)
    n_state = _count_rows(labels, sym)
    # with-block + finally: a mid-loop Spark exception must not leave the
    # session's shuffle-partition count overridden or leak checkpoint RDDs.
    try:
        with loop_shuffle_partitions(vertices.sparkSession, n_state):
            for _ in range(iters):
                msgs = sym.join(
                    labels.select(F.col("u").alias("v"), "label"), "v"
                ).select("u", "label")
                counts = msgs.groupBy("u", "label").count()
                # Most-frequent neighbor label, tie -> smallest label: max
                # over a sortable (count, inverted-label) pair would need
                # string negation, so rank by (count desc, label asc).
                w = Window.partitionBy("u").orderBy(
                    F.col("count").desc(), F.col("label").asc()
                )
                new = (
                    counts.withColumn("_rn", F.row_number().over(w))
                    .where(F.col("_rn") == 1)
                    .select("u", "label")
                )
                # Isolated vertices keep their own label; the old label is
                # carried so convergence is a cheap cached scan, not a join.
                ck = hard_checkpoint(
                    labels.select("u", F.col("label").alias("_old"))
                    .join(new, "u", "left")
                    .select("u", F.coalesce("label", F.col("u")).alias("label"), "_old")
                )
                changed = ck.where(F.col("label") != F.col("_old")).limit(1).count()
                new_labels = ck.select("u", "label")
                new_labels._graft_ckpt = ck._graft_ckpt  # type: ignore[attr-defined]
                release(labels)
                labels = new_labels
                if changed == 0:
                    break
    finally:
        release(sym)
    return labels.select(F.col("u").alias("entity_id"), "label")


def _enforce_min_size(membership: DataFrame, min_size: int) -> DataFrame:
    """E6 (community_detection.py:102-116) on (entity_id, label) rows.

    ONE driver action: the top row under (valid desc, size desc, label asc)
    decides both whether any valid community exists and the merge target.
    """
    sizes = membership.groupBy("label").agg(F.count(F.lit(1)).alias("sz"))
    top = (
        sizes.orderBy(
            (F.col("sz") >= min_size).desc(), F.col("sz").desc(), F.col("label").asc()
        )
        .limit(1)
        .collect()
    )
    if not top:  # empty graph (no mentions at all): nothing to relabel
        return membership.select("entity_id", "label")
    target = top[0]["label"]
    if top[0]["sz"] >= min_size:
        valid = sizes.where(F.col("sz") >= min_size).select("label")
    else:
        valid = membership.sparkSession.createDataFrame([(target,)], "label string")
    return (
        membership.join(
            F.broadcast(valid.withColumn("_valid", F.lit(True))), "label", "left"
        )
        .withColumn("label", F.when(F.col("_valid").isNull(), F.lit(target)).otherwise(F.col("label")))
        .select("entity_id", "label")
    )


def detect_communities(
    nodes: DataFrame,
    edges: DataFrame,
    levels: int = 3,
    min_size: int = 3,
    lpa_iters: int = 8,
    driver_threshold: int = DRIVER_THRESHOLD,
    seed_labels: DataFrame | None = None,
) -> DataFrame:
    """-> long-form membership (level int, community_id string,
    parent string, entity_id string); SURVEY.md §1 communities table.

    Adaptive: when vertices + 2 x edge rows fit under
    ``driver_threshold``, the whole hierarchy runs driver-locally
    (identical output, asserted in tests); larger graphs run the
    distributed per-level loop, with shuffle partitions sized to the
    graph's state for the duration.

    ``seed_labels`` (entity_id, label) warm-starts the LEVEL-0 LPA (see
    :func:`label_propagation`) — the incremental-refresh path when a
    previous build's communities exist and the graph only grew: on the
    unchanged subgraph the seed is already a fixpoint, so rounds touch
    only the appended neighborhoods. Sub-levels re-cluster as usual
    (they are bounded by their parent community, not the corpus).
    """
    spark = nodes.sparkSession
    vertices = nodes.select("entity_id")
    # Driver-local regime (iterutils.local_graph): raw-row limit probes of
    # the edges, then the vertices — no checkpoint, no count. Edges leaving
    # the vertex set carry no LPA message, as in the distributed loop.
    g = local_graph(edges, "src_id", "dst_id", driver_threshold, vertices, "entity_id")
    if g is not None:
        ids = set(g.vertices)
        rows = _hierarchy_py(
            g.vertices,
            [(a, b) for a, b in g.pairs if a in ids and b in ids],
            levels,
            min_size,
            lpa_iters,
            seed=_local_seed(seed_labels, ids),
        )
        return local_frame(
            spark,
            rows,
            ["level", "community_id", "parent", "entity_id"],
            "level int, community_id string, parent string, entity_id string",
        )
    und = hard_checkpoint(_und_edges(edges))
    n_state = _count_rows(und, vertices)

    with loop_shuffle_partitions(spark, n_state):
        l0 = _enforce_min_size(
            label_propagation(
                vertices, und, lpa_iters, driver_threshold, seed_labels=seed_labels
            ),
            min_size,
        )
        membership = hard_checkpoint(
            l0.select(
                F.lit(0).alias("level"),
                F.concat(F.lit("0_"), F.col("label")).alias("community_id"),
                F.lit(None).cast("string").alias("parent"),
                "entity_id",
            )
        )

        prev = membership
        for level in range(1, levels):
            sizes = prev.groupBy("community_id").agg(F.count(F.lit(1)).alias("sz"))
            small = sizes.where(F.col("sz") <= 2 * min_size).select("community_id")
            big = sizes.where(F.col("sz") > 2 * min_size).select("community_id")

            # Pass-through: small parents copied with a parent pointer
            # (community_detection.py:170-177).
            passthrough = prev.join(F.broadcast(small), "community_id").select(
                F.lit(level).alias("level"),
                F.concat(F.lit(f"{level}_"), F.col("community_id")).alias("community_id"),
                F.col("community_id").alias("parent"),
                "entity_id",
            )

            # Re-cluster big parents on their induced subgraphs, all in one
            # pass: restrict edges to intra-parent pairs, then LPA.
            big_members = hard_checkpoint(
                prev.join(F.broadcast(big), "community_id").select("community_id", "entity_id")
            )
            mu = big_members.select(
                F.col("entity_id").alias("u"), F.col("community_id").alias("cu")
            )
            mv = big_members.select(
                F.col("entity_id").alias("v"), F.col("community_id").alias("cv")
            )
            sub_edges = hard_checkpoint(
                und.join(mu, "u")
                .join(mv, "v")
                .where(F.col("cu") == F.col("cv"))
                .select("u", "v")
            )
            sub_labels = label_propagation(
                big_members.select("entity_id"), sub_edges, lpa_iters, driver_threshold
            )
            sub = (
                sub_labels.join(big_members, "entity_id")
                .withColumn(
                    "child_id", F.concat(F.lit(f"{level}_"), F.col("label"))
                )
            )
            # Drop sub-communities below min_size (community_detection.py:184).
            child_sizes = sub.groupBy("child_id").agg(F.count(F.lit(1)).alias("csz"))
            sub_kept = sub.join(
                F.broadcast(child_sizes.where(F.col("csz") >= min_size).select("child_id")),
                "child_id",
            ).select(
                F.lit(level).alias("level"),
                F.col("child_id").alias("community_id"),
                F.col("community_id").alias("parent"),
                "entity_id",
            )
            cur = hard_checkpoint(passthrough.unionByName(sub_kept))
            membership = membership.unionByName(cur)
            prev = cur

    return membership


def member_edge_degrees(communities: DataFrame, edges: DataFrame) -> DataFrame:
    """Shared edge scan for stats (E5) and summary titles:
    (level, community_id, entity_id, n_int, n_ext) — per member, the count
    of directed edge copies to nodes inside / outside its community at that
    level, against the FULL graph. Computing this ONCE replaces the two
    sym-x-membership double joins the stats and summaries stages each ran.
    """
    sym = _sym(_und_edges(edges))
    m = communities.select("level", "community_id", "entity_id")
    mx = m.select(
        F.col("level"), F.col("community_id").alias("cx"), F.col("entity_id").alias("u")
    )
    my = m.select(
        F.col("level").alias("level_y"),
        F.col("community_id").alias("cy"),
        F.col("entity_id").alias("v_y"),
    )
    per_edge = (
        sym.join(mx, "u")
        .join(
            my,
            (F.col("v") == F.col("v_y")) & (F.col("level") == F.col("level_y")),
            "left",
        )
        .select(
            "level",
            "cx",
            "u",
            F.when(F.col("cy") == F.col("cx"), F.lit(1)).otherwise(F.lit(0)).alias("is_int"),
        )
    )
    return per_edge.groupBy(
        "level", F.col("cx").alias("community_id"), F.col("u").alias("entity_id")
    ).agg(
        F.sum("is_int").alias("n_int"),
        F.sum(1 - F.col("is_int")).alias("n_ext"),
    )


def community_stats(
    communities: DataFrame, edges: DataFrame, degrees: DataFrame | None = None
) -> DataFrame:
    """E5 stats per (level, community_id) — formulas from
    community_detection.py:125-155, computed against the full graph.
    Pass a precomputed ``member_edge_degrees`` to share its edge scan with
    the summaries stage."""
    deg = degrees if degrees is not None else member_edge_degrees(communities, edges)
    cnt = deg.groupBy("level", "community_id").agg(
        (F.sum("n_int") / 2).cast("double").alias("internal"),
        F.sum("n_ext").cast("double").alias("external"),
    )
    m = communities.select("level", "community_id", "entity_id")
    sizes = m.groupBy("level", "community_id").agg(F.count(F.lit(1)).alias("size"))
    joined = sizes.join(cnt, ["level", "community_id"], "left").fillna(
        {"internal": 0.0, "external": 0.0}
    )

    total = F.col("internal") + F.col("external")
    pi = F.when(total > 0, F.col("internal") / total).otherwise(F.lit(0.0))
    pe = F.when(total > 0, F.col("external") / total).otherwise(F.lit(0.0))
    ent = -(
        F.when(pi > 0, pi * F.log2(pi)).otherwise(F.lit(0.0))
        + F.when(pe > 0, pe * F.log2(pe)).otherwise(F.lit(0.0))
    )
    return joined.select(
        "level",
        "community_id",
        "size",
        F.when(
            F.col("size") > 1,
            2.0 * F.col("internal") / (F.col("size") * (F.col("size") - 1)),
        )
        .otherwise(F.lit(0.0))
        .alias("density"),
        F.when(F.col("size") > 1, pi).otherwise(F.lit(0.0)).alias("flow"),
        F.when(F.col("size") > 1, ent).otherwise(F.lit(0.0)).alias("description_length"),
        F.col("internal").alias("internal_edges"),
        F.col("external").alias("external_edges"),
    )


def summarize_communities(
    communities: DataFrame,
    stats: DataFrame,
    nodes: DataFrame,
    edges: DataFrame,
    top_findings: int = 5,
    degrees: DataFrame | None = None,
    summarizer=None,
) -> DataFrame:
    """S11: deterministic community reports, with a pluggable LLM slot.

    Shape mirrors the reference's LLM summary dict {title, summary, rating,
    findings: [{summary, explanation}]} (indexing/summarizer.py:31-38,
    181-208) with the LLM replaced by column expressions: title = highest-
    degree member entity; findings = strongest intra-community edges;
    rating clamped to [0, 10] (H9). ``full_text`` concatenates title +
    summary + finding summaries for embedding, mirroring
    utils/embedding_utils.py:42-50. Pass a precomputed
    ``member_edge_degrees`` to share its edge scan with the stats stage.

    ``summarizer``: optional ``(community_id, input_text, n_entities) ->
    {title, summary, rating, findings}`` (see
    functions/llm_generate.make_llm_summarizer — the reference's per-
    community LLM call, summarizer.py:25-60). Applied as ONE Arrow-batched
    pandas UDF over the deterministic report text (the relational
    replacement for the reference's per-community async call fan-out);
    title/summary/rating/findings and the embedded full_text are replaced,
    everything else (stats columns, sub_communities) stays column-computed.
    """
    m = communities.select("level", "community_id", "entity_id")

    # Within-community degree per member = n_int from the shared scan;
    # members with zero intra edges never titled (left-join semantics).
    deg = (
        degrees if degrees is not None else member_edge_degrees(communities, edges)
    ).where(F.col("n_int") > 0)
    named = deg.join(nodes.select("entity_id", "name"), "entity_id", "left")
    w_title = Window.partitionBy("level", "community_id").orderBy(
        F.col("n_int").desc(), F.col("name").asc()
    )
    titles = (
        named.withColumn("_rn", F.row_number().over(w_title))
        .where(F.col("_rn") == 1)
        .select("level", "community_id", F.col("name").alias("title"))
    )

    # Findings: top intra-community edges by strength.
    e = edges.select("src_id", "dst_id", "src", "dst", "pred", "strength", "n_obs")
    ms = m.withColumnRenamed("entity_id", "src_id")
    md = m.select(
        F.col("level").alias("level_d"),
        F.col("community_id").alias("cid_d"),
        F.col("entity_id").alias("dst_id_m"),
    )
    intra = (
        e.join(ms, "src_id")
        .join(
            md,
            (F.col("dst_id") == F.col("dst_id_m"))
            & (F.col("level") == F.col("level_d"))
            & (F.col("community_id") == F.col("cid_d")),
        )
        .select("level", "community_id", "src", "pred", "dst", "strength", "n_obs")
    )
    w_find = Window.partitionBy("level", "community_id").orderBy(
        F.col("strength").desc(), F.col("src").asc(), F.col("dst").asc(), F.col("pred").asc()
    )
    findings = (
        intra.withColumn("_rn", F.row_number().over(w_find))
        .where(F.col("_rn") <= top_findings)
        .withColumn(
            "finding",
            F.struct(
                F.concat_ws(" ", "src", "pred", "dst").alias("summary"),
                F.concat(
                    F.lit("observed "),
                    F.col("n_obs").cast("string"),
                    F.lit(" times with strength "),
                    F.round("strength", 3).cast("string"),
                ).alias("explanation"),
            ),
        )
        .groupBy("level", "community_id")
        .agg(F.sort_array(F.collect_list(F.struct("_rn", "finding"))).alias("_fs"))
        .select(
            "level", "community_id", F.col("_fs.finding").alias("findings")
        )
    )

    member_names = (
        m.join(nodes.select("entity_id", "name"), "entity_id", "left")
        .groupBy("level", "community_id")
        .agg(F.array_sort(F.collect_list("name")).alias("_names"))
        .select(
            "level",
            "community_id",
            F.concat(
                F.lit("Community of "),
                F.size("_names").cast("string"),
                F.lit(" entities including "),
                F.concat_ws(", ", F.slice("_names", 1, 3)),
                F.lit("."),
            ).alias("summary"),
        )
    )

    # Parent reports embed their children (the reference summarizes levels
    # deepest-first so parent prompts include child summaries,
    # indexing/summarizer.py:68,164-177). Sequencing is an LLM-prompt
    # artifact — relationally, a parent's children are one self-join away:
    # communities at level+1 whose ``parent`` is this community.
    child_rows = (
        communities.select("level", "community_id", "parent")
        .where(F.col("level") >= 1)
        .distinct()
    )
    child_titles = (
        child_rows.join(titles, ["level", "community_id"])
        .groupBy(
            (F.col("level") - 1).alias("level"),
            F.col("parent").alias("community_id"),
        )
        .agg(F.array_sort(F.collect_list("title")).alias("sub_communities"))
    )

    base = (
        stats.select("level", "community_id", "size", "density", "flow")
        .join(titles, ["level", "community_id"], "left")
        .join(member_names, ["level", "community_id"], "left")
        .join(findings, ["level", "community_id"], "left")
        .join(child_titles, ["level", "community_id"], "left")
        .withColumn("findings", F.coalesce("findings", F.array()))
        .withColumn("sub_communities", F.coalesce("sub_communities", F.array()))
        # rating in [0, 10] (clamp semantics per indexing/summarizer.py:181-208)
        .withColumn(
            "rating",
            F.round(
                F.least(
                    F.lit(10.0), F.col("size") / 3.0 + 5.0 * F.col("density")
                ),
                2,
            ),
        )
    )
    def _full_text(title, summary, findings):
        return F.concat_ws(
            " ",
            title,
            summary,
            F.concat_ws(" ", findings["summary"]),
            F.when(
                F.size("sub_communities") > 0,
                F.concat(
                    F.lit("Sub-communities: "),
                    F.concat_ws("; ", "sub_communities"),
                    F.lit("."),
                ),
            ),
        )

    det = base.select(
        "level",
        "community_id",
        "title",
        "summary",
        "rating",
        "findings",
        "sub_communities",
        _full_text(F.col("title"), F.col("summary"), F.col("findings")).alias("full_text"),
        "size",
        "density",
        "flow",
    )
    if summarizer is None:
        return det

    import pandas as pd
    from pyspark.sql import types as T

    out_type = T.StructType(
        [
            T.StructField("title", T.StringType()),
            T.StructField("summary", T.StringType()),
            T.StructField("rating", T.DoubleType()),
            T.StructField(
                "findings",
                T.ArrayType(
                    T.StructType(
                        [
                            T.StructField("summary", T.StringType()),
                            T.StructField("explanation", T.StringType()),
                        ]
                    )
                ),
            ),
        ]
    )

    def _summ_batch(cid, ctx, sz):
        return pd.DataFrame(
            [summarizer(c, x or "", int(n)) for c, x, n in zip(cid, ctx, sz)]
        )

    # no type hints: the (Series, Series, Series) -> DataFrame struct-output
    # shape needs the explicit returnType form
    summ_udf = F.pandas_udf(_summ_batch, out_type)

    rep = F.col("_llm")
    return (
        det.withColumn(
            "_llm", summ_udf(F.col("community_id"), F.col("full_text"), F.col("size"))
        )
        .select(
            "level",
            "community_id",
            rep["title"].alias("title"),
            rep["summary"].alias("summary"),
            F.round(rep["rating"], 2).alias("rating"),
            rep["findings"].alias("findings"),
            "sub_communities",
            "size",
            "density",
            "flow",
        )
        .withColumn(
            "full_text",
            _full_text(F.col("title"), F.col("summary"), F.col("findings")),
        )
        .select(
            "level", "community_id", "title", "summary", "rating", "findings",
            "sub_communities", "full_text", "size", "density", "flow",
        )
    )


# ---- driver-local graph tail ----------------------------------------------

# Schemas of the four graph tables, exactly as the Spark operators emit them.
_SUMMARY_DDL = (
    "level int, community_id string, title string, summary string, rating double, "
    "findings array<struct<summary:string,explanation:string>>, "
    "sub_communities array<string>, full_text string, size bigint, density double, "
    "flow double"
)
TAIL_TABLES = {
    "communities": "level int, community_id string, parent string, entity_id string",
    "community_stats": "level int, community_id string, size bigint, density double, "
    "flow double, description_length double, internal_edges double, external_edges double",
    "summaries": _SUMMARY_DDL,
    "summary_embeddings": _SUMMARY_DDL + ", embedding array<double>",
}
_EDGE_COLS = ["src_id", "dst_id", "src", "dst", "pred", "strength", "n_obs"]


def _spark_round(x: float, ndigits: int) -> float:
    """Spark's ``round`` on a double: HALF_UP on its shortest decimal form
    (0.8125 -> 0.813, where Python's ``round`` gives 0.812)."""
    return float(Decimal(repr(x)).quantize(Decimal(1).scaleb(-ndigits), ROUND_HALF_UP))


def _asc(v):
    """Sort key for Spark's ascending string order (NULLs first)."""
    return (v is not None, v if v is not None else "")


def graph_tail_py(
    node_rows: list,
    edge_rows: list,
    levels: int,
    min_size: int,
    iters: int,
    *,
    dim: int,
    seed: dict | None = None,
    membership: list | None = None,
) -> dict[str, list[tuple]]:
    """The pipeline's four graph tables from driver-held rows, in one pass.

    ``node_rows``: (entity_id, name); ``edge_rows``: (src_id, dst_id, src,
    dst, pred, strength, n_obs). ``membership`` — (level, community_id,
    parent, entity_id) rows of an already-built communities stage — skips
    the hierarchy; otherwise it is :func:`_hierarchy_py` over the entity
    graph (warm-started from ``seed``). Returns {table: rows} in
    ``TAIL_TABLES`` column order, equal to :func:`detect_communities`,
    :func:`member_edge_degrees` + :func:`community_stats`,
    :func:`summarize_communities` and ``querying.answer.embed_summaries``.
    """
    from graphrag_litex_spark.functions.normalize import hash_embed

    names = dict(node_rows)
    # Community edges: distinct undirected pairs, self-loops dropped
    # (``_und_edges``).
    und = {(min(s, d), max(s, d)) for s, d, *_ in edge_rows if s != d}
    if membership is None:
        # LPA only sees edges between vertices (the distributed loop's joins
        # drop the rest).
        pairs = [(a, b) for a, b in und if a in names and b in names]
        membership = _hierarchy_py(
            [e for e, _ in node_rows], pairs, levels, min_size, iters, seed=seed
        )

    comm: dict = {}  # level -> {entity_id: community_id}
    members: dict = {}  # (level, community_id) -> [entity_id]
    parent_of: dict = {}  # (level >= 1, community_id) -> parent
    for level, cid, parent, u in membership:
        comm.setdefault(level, {})[u] = cid
        members.setdefault((level, cid), []).append(u)
        if parent is not None:
            parent_of[(level, cid)] = parent

    # member_edge_degrees: per member, edge copies inside / outside its
    # community at that level, against the full graph.
    degs: dict = {}  # (level, community_id, entity_id) -> [n_int, n_ext]
    for level, cof in comm.items():
        for a, b in und:
            for u, v in ((a, b), (b, a)):
                c = cof.get(u)
                if c is not None:
                    d = degs.setdefault((level, c, u), [0, 0])
                    d[0 if cof.get(v) == c else 1] += 1

    # Titles: the member with the most intra edges, ties -> smallest name.
    totals: dict = {}  # (level, community_id) -> [sum n_int, sum n_ext]
    best: dict = {}  # (level, community_id) -> (sort key, name)
    for (level, c, u), (n_int, n_ext) in degs.items():
        t = totals.setdefault((level, c), [0, 0])
        t[0] += n_int
        t[1] += n_ext
        if n_int > 0:
            key = (-n_int, _asc(names.get(u)))
            if (level, c) not in best or key < best[(level, c)][0]:
                best[(level, c)] = (key, names.get(u))
    titles = {k: name for k, (_, name) in best.items()}

    # Findings: the 5 strongest edges (self-loops included) inside a
    # community (summarize_communities' default top_findings).
    intra: dict = {}
    for e in edge_rows:
        for level, cof in comm.items():
            c = cof.get(e[0])
            if c is not None and cof.get(e[1]) == c:
                intra.setdefault((level, c), []).append(e)

    def finding(e):
        _, _, src, dst, pred, strength, n_obs = e
        # repr == Java's Double.toString (Spark's cast) on 0 and [1e-3, 1e7),
        # which holds for strengths (extraction emits them in [0, 1]).
        return {
            "summary": " ".join(x for x in (src, pred, dst) if x is not None),
            "explanation": f"observed {n_obs} times with strength "
            f"{_spark_round(strength, 3)!r}",
        }

    def finding_key(e):
        return (-e[5], _asc(e[2]), _asc(e[3]), _asc(e[4]))

    subs: dict = {}  # (level, community_id) -> child titles
    for (level, c), parent in parent_of.items():
        if titles.get((level, c)) is not None:
            subs.setdefault((level - 1, parent), []).append(titles[(level, c)])

    stats, summaries, embeddings = [], [], []
    for (level, c), ms in members.items():
        size = len(ms)
        n_int, n_ext = totals.get((level, c), (0, 0))
        internal, external = n_int / 2, float(n_ext)
        total = internal + external
        pi = internal / total if total > 0 else 0.0
        pe = external / total if total > 0 else 0.0
        ent = -(
            (pi * (math.log(pi) / math.log(2)) if pi > 0 else 0.0)
            + (pe * (math.log(pe) / math.log(2)) if pe > 0 else 0.0)
        )
        density = 2.0 * internal / (size * (size - 1)) if size > 1 else 0.0
        flow = pi if size > 1 else 0.0
        stats.append(
            (level, c, size, density, flow, ent if size > 1 else 0.0, internal, external)
        )

        title = titles.get((level, c))
        nm = sorted(n for n in (names.get(u) for u in ms) if n is not None)
        summary = f"Community of {len(nm)} entities including {', '.join(nm[:3])}."
        findings = [
            finding(e)
            for e in sorted(intra.get((level, c), ()), key=finding_key)[:5]
        ]
        sub = sorted(subs.get((level, c), ()))
        full_text = " ".join(
            p
            for p in (
                title,
                summary,
                " ".join(f["summary"] for f in findings),
                f"Sub-communities: {'; '.join(sub)}." if sub else None,
            )
            if p is not None
        )
        rating = _spark_round(min(10.0, size / 3.0 + 5.0 * density), 2)
        row = (level, c, title, summary, rating, findings, sub, full_text, size, density, flow)
        summaries.append(row)
        embeddings.append(row + (hash_embed(full_text, dim),))

    return {
        "communities": membership,
        "community_stats": stats,
        "summaries": summaries,
        "summary_embeddings": embeddings,
    }


def graph_tail(
    nodes: DataFrame,
    edges: DataFrame,
    levels: int = 3,
    min_size: int = 3,
    lpa_iters: int = 8,
    *,
    dim: int,
    seed_labels: DataFrame | None = None,
    communities: DataFrame | None = None,
) -> dict[str, DataFrame]:
    """Driver-local regime for a small entity graph: {table: local frame}
    for communities, community_stats, summaries and summary_embeddings.

    Nodes (entity_id, name) and edges arrive in ONE collect (a tagged
    union), :func:`graph_tail_py` computes every table, and each comes back
    as an Arrow-built local frame. ``seed_labels`` (entity_id, label)
    warm-starts level-0 LPA; ``communities`` reuses an already-built
    membership instead of detecting one. Each costs one more collect. The
    caller owns the valve: use this only when the graph fits under
    ``iterutils.DRIVER_THRESHOLD``.
    """
    spark = nodes.sparkSession
    rows = (
        nodes.select(
            F.lit(True).alias("_node"),
            F.col("entity_id").alias("src_id"),
            F.col("name").alias("src"),
        )
        .unionByName(
            edges.select(F.lit(False).alias("_node"), *_EDGE_COLS),
            allowMissingColumns=True,
        )
        .select("_node", *_EDGE_COLS)
        .collect()
    )
    node_rows = [(r["src_id"], r["src"]) for r in rows if r["_node"]]
    edge_rows = [tuple(r)[1:] for r in rows if not r["_node"]]
    seed = None
    if seed_labels is not None:
        seed = dict(map(tuple, seed_labels.select("entity_id", "label").collect()))
    membership = None
    if communities is not None:
        membership = list(
            map(tuple, communities.select("level", "community_id", "parent", "entity_id").collect())
        )
    tables = graph_tail_py(
        node_rows,
        edge_rows,
        levels,
        min_size,
        lpa_iters,
        dim=dim,
        seed=seed,
        membership=membership,
    )
    return {
        name: local_frame(
            spark, tables[name], [f.split()[0] for f in ddl.split(", ")], ddl
        )
        for name, ddl in TAIL_TABLES.items()
    }


def modularity(membership: DataFrame, edges: DataFrame, level: int = 0) -> float:
    """Newman modularity Q of the partition at ``level`` against the
    (unweighted, undirected) entity graph:

        Q = sum_c [ e_c / m  -  (d_c / 2m)^2 ]

    with e_c = intra-community edges, d_c = total degree of members, m =
    total undirected edges. The partition-quality metric used to judge the
    LPA substitute against the reference's Infomap/Louvain output
    (community_detection.py:59-100); computed relationally (joins + one
    aggregate), collected as a single scalar.
    """
    und = _und_edges(edges)
    m = und.count()
    if m == 0:
        return 0.0
    part = membership.where(F.col("level") == level).select(
        F.col("entity_id"), F.col("community_id")
    )
    pu = part.select(F.col("entity_id").alias("u"), F.col("community_id").alias("cu"))
    pv = part.select(F.col("entity_id").alias("v"), F.col("community_id").alias("cv"))
    # degree per member (each undirected edge contributes to both endpoints)
    deg = (
        _sym(und)
        .groupBy("u")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    d_c = deg.join(pu, "u").groupBy("cu").agg(F.sum("deg").alias("d_c"))
    e_c = (
        und.join(pu, "u")
        .join(pv, "v")
        .where(F.col("cu") == F.col("cv"))
        .groupBy("cu")
        .agg(F.count(F.lit(1)).alias("e_c"))
    )
    per_c = d_c.join(e_c, "cu", "left").fillna({"e_c": 0})
    row = per_c.agg(
        F.sum(
            F.col("e_c") / F.lit(float(m))
            - F.pow(F.col("d_c") / F.lit(2.0 * m), 2)
        ).alias("q")
    ).collect()
    q = row[0]["q"]
    return float(q) if q is not None else 0.0
