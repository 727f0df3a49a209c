"""Training-data generation over the built KG: negative triples + walks.

Once the graph is materialized, the two standard artifacts a model team asks
the pipeline for are (a) corrupted-triple negatives for KG-embedding
training (TransE/DistMult-style: for each observed (subj, pred, ·) replace
the object with an entity that does NOT form a true triple) and (b) a
random-walk corpus for skip-gram node embeddings (DeepWalk / node2vec: fixed
-length walks whose node sequences are the "sentences").

Both are deterministic here — sampling decisions are md5-rank choices over
(seed, key) strings, so the same corpus always yields byte-identical
training data (the same reproducibility contract as the rest of the engine:
reruns and resumes must not shift training sets). md5 is evaluated JVM-side
(`F.md5`, whole-stage codegen) and matches any ANSI engine's md5() on the
same string, which is what makes these operators oracle-checkable.

Scale notes:
- `negative_samples`: the candidate pool is a fixed-size md5-min sample of
  the entity vocabulary (TakeOrderedAndProject, one scan), broadcast to
  every task; candidates = |distinct (subj,pred)| x pool (linear, narrow),
  the anti-join against true triples shuffles on the triple key, and the
  per-(subj,pred) top-k window is bounded by the pool size. No step is
  quadratic in the entity count.
- `random_walks` and `node2vec_walks` run one walk loop (`_walks`): a
  driver-local loop under the small-graph valve, else one distributed loop
  whose state (start, walk_idx, prev, cur, nodes) advances one step per
  round. A walker only supplies each candidate's md5 draw replicas. Per
  step, `random_walks` runs ONE frontier-sized hash join against the
  symmetric edge list (shuffle on the current node key); `node2vec_walks`
  runs that join plus a second one against the edge list on (prev, dst)
  (the distance-1 test, from step 2 on) and a <=max(w)-way replica
  explode. Both end the step in a map-side-combinable min_by aggregate;
  lineage is truncated with an eager checkpoint every ``checkpoint_every``
  steps (same loop discipline as operators/cc.py / pagerank.py). Hot nodes
  cost one skewed join key per step — AQE skew-split applies; walk state
  is O(#starts x walks_per_node).
"""

from __future__ import annotations

from hashlib import md5

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .iterutils import (
    DRIVER_THRESHOLD,
    checkpoint_scope,
    local_frame,
    local_graph,
    symmetric,
    undirected_simple,
)


def _walk_edges(scope: checkpoint_scope, edges: DataFrame, src_col: str, dst_col: str) -> DataFrame:
    """The walkers' step relation, checkpointed once in ``scope``: both
    directions (src, dst) of every edge of the undirected simple graph."""
    return scope.checkpoint(
        symmetric(undirected_simple(edges, src_col, dst_col)).select(
            F.col("u").alias("src"), F.col("v").alias("dst")
        )
    )


def _h(*cols) -> F.Column:
    """Deterministic md5 rank key over '|'-joined string parts."""
    return F.md5(F.concat_ws("|", *cols))


def negative_samples(
    triples: DataFrame,
    entities: DataFrame,
    k: int = 3,
    pool_size: int = 32,
    subj_col: str = "subj",
    pred_col: str = "pred",
    obj_col: str = "obj",
    entity_col: str = "name",
    seed: str = "",
    corrupt: str = "obj",
) -> DataFrame:
    """k corrupted negatives per distinct (anchor, pred).

    ``corrupt="obj"`` (default) corrupts the OBJECT per distinct
    (subj, pred) -> (subj, pred, neg_obj, rank); ``corrupt="subj"``
    corrupts the SUBJECT per distinct (pred, obj) ->
    (neg_subj, pred, obj, rank). TransE-family training corrupts both
    sides — call once per side (independent hash draws: the corrupted
    slot's name enters the rank hash).

    The candidate pool is the ``pool_size`` entities with the smallest
    md5(seed|entity) (a deterministic uniform sample of the vocabulary);
    per anchor the k smallest md5(seed|anchor...|candidate) survive after
    dropping candidates that (a) equal the anchor entity or (b) form a
    TRUE triple (anti-join).

    An anchor whose viable candidates all collide with true triples yields
    fewer than k rows — never a wrong row.
    """
    if corrupt not in ("obj", "subj"):
        raise ValueError("corrupt must be 'obj' or 'subj'")
    # Symmetric formulation: anchor = the kept entity slot, neg = the
    # corrupted slot. For corrupt="obj": anchor=subj, neg=neg_obj; for
    # corrupt="subj": anchor=obj, neg=neg_subj.
    anchor_src = subj_col if corrupt == "obj" else obj_col
    true_neg_src = obj_col if corrupt == "obj" else subj_col
    neg_name = "neg_obj" if corrupt == "obj" else "neg_subj"

    pool = (
        entities.select(F.col(entity_col).alias(neg_name))
        .distinct()
        .orderBy(_h(F.lit(seed), neg_name), neg_name)
        .limit(pool_size)
    )
    ap = triples.select(
        F.col(anchor_src).alias("__anchor"), F.col(pred_col).alias("pred")
    ).distinct()
    cand = ap.join(F.broadcast(pool)).where(F.col(neg_name) != F.col("__anchor"))
    true = triples.select(
        F.col(anchor_src).alias("__anchor"),
        F.col(pred_col).alias("pred"),
        F.col(true_neg_src).alias(neg_name),
    ).distinct()
    survivors = cand.join(true, ["__anchor", "pred", neg_name], "left_anti")
    w = Window.partitionBy("__anchor", "pred").orderBy(
        _h(F.lit(seed), "__anchor", "pred", neg_name), F.col(neg_name)
    )
    ranked = survivors.withColumn("rank", F.row_number().over(w)).where(
        F.col("rank") <= k
    )
    if corrupt == "obj":
        return ranked.select(
            F.col("__anchor").alias("subj"), "pred", neg_name, F.col("rank").cast("int")
        )
    return ranked.select(
        F.col(neg_name), "pred", F.col("__anchor").alias("obj"), F.col("rank").cast("int")
    )


def walk_cooccurrence(
    walks: DataFrame,
    window: int = 2,
    nodes_col: str = "nodes",
    path_col: str = "path",
    sep: str = " -> ",
) -> DataFrame:
    """Skip-gram co-occurrence counts over a random-walk corpus.

    The walk sentences from :func:`random_walks` train node embeddings the
    same way word2vec trains word embeddings: every (center, context) pair
    within ``window`` positions co-occurs. This emits the UNDIRECTED pair
    counts (node_a < node_b lexicographically, self-pairs from revisits
    dropped) -> (node_a, node_b, n_cooc) — the input to a PPMI matrix or
    any SGNS trainer.

    Consumes the lossless ``nodes_col`` array when present (node names may
    contain the separator); splitting ``path_col`` is only a fallback for
    walk corpora that arrive as rendered strings.

    Execution: pair enumeration is a single whole-stage-codegen projection
    (nested ``transform`` over index pairs -> explode), so fan-out is
    bounded by walk_length x window per row and NOTHING is joined; the
    only shuffle is the final (node_a, node_b) count aggregate, which is
    map-side combined. At 10^12-turn scale the pair-key agg is the same
    shape as the edge merge (E2) and shares its skew story: hot hub nodes
    are hot AGGREGATE keys (combiner-absorbed), never join keys.
    """
    if window < 1:
        raise ValueError("window must be >= 1")
    import re as _re

    if nodes_col in walks.columns:
        seq = F.col(nodes_col)
    else:
        # split()'s pattern is a Java regex — escape so any literal sep works
        seq = F.split(F.col(path_col), _re.escape(sep), -1)
    pairs = (
        walks.select(seq.alias("__l"))
        # sequence(0, -1) would DESCEND (Spark infers step -1), emitting
        # bogus indices for 1-node paths — guard the degenerate row out.
        .where(F.size("__l") >= 2)
        .select(
            F.explode(
                F.expr(
                    f"""
                    flatten(transform(sequence(0, size(__l) - 2), i ->
                        transform(
                            sequence(i + 1, least(i + {int(window)}, size(__l) - 1)),
                            j -> struct(
                                least(__l[i], __l[j]) AS a,
                                greatest(__l[i], __l[j]) AS b))))
                    """
                )
            ).alias("p")
        )
        .select(F.col("p.a").alias("node_a"), F.col("p.b").alias("node_b"))
        .where(F.col("node_a") != F.col("node_b"))
    )
    return pairs.groupBy("node_a", "node_b").agg(
        F.count(F.lit(1)).alias("n_cooc")
    )


def ppmi_weights(
    cooc: DataFrame,
    a_col: str = "node_a",
    b_col: str = "node_b",
    n_col: str = "n_cooc",
) -> DataFrame:
    """Positive PMI over undirected co-occurrence counts ->
    (node_a, node_b, n_cooc, ppmi).

    With T = total pair count and m(x) = sum of counts of pairs containing
    x, ppmi(a,b) = max(0, ln(n * T / (m_a * m_b))) — the classic
    Levy-Goldberg result that SGNS implicitly factorizes a shifted PMI
    matrix, so (walks -> cooccurrence -> PPMI) IS DeepWalk's training
    signal in closed form.

    Plan: one map-side-combined marginal aggregate (node-cardinality,
    rejoined under AQE — broadcast when small), the grand total as a
    broadcast one-row cross join, and the ln as a codegen expression.
    Like trigram_logprob, the ln keeps this out of the cross-engine value
    contract (libm last-bit divergence); the INTEGER inputs (n, T, m_a,
    m_b) are contract-checkable via kg_walk_cooccurrence.

    ``cooc`` feeds FOUR plan branches (output, grand total, two marginal
    joins), so it is eagerly checkpointed here — otherwise the upstream
    walk + co-occurrence pipeline would recompute per branch. Pass the
    result to ``iterutils.release`` after consuming it.
    """
    with checkpoint_scope() as scope:
        pairs = scope.checkpoint(
            cooc.select(
                F.col(a_col).alias("node_a"),
                F.col(b_col).alias("node_b"),
                F.col(n_col).alias("n_cooc"),
            )
        )
        marg = (
            pairs.select(F.col("node_a").alias("node"), "n_cooc")
            .unionAll(pairs.select(F.col("node_b").alias("node"), "n_cooc"))
            .groupBy("node")
            .agg(F.sum("n_cooc").alias("m"))
        )
        total = pairs.agg(F.sum("n_cooc").alias("T"))
        out = (
            pairs.crossJoin(F.broadcast(total))
            .join(marg.select(F.col("node").alias("node_a"), F.col("m").alias("m_a")), "node_a")
            .join(marg.select(F.col("node").alias("node_b"), F.col("m").alias("m_b")), "node_b")
            .select(
                "node_a",
                "node_b",
                "n_cooc",
                F.greatest(
                    F.lit(0.0),
                    F.log(
                        # doubles throughout: m_a * m_b overflows int64 once
                        # marginals pass ~3e9 (guaranteed at corpus scale)
                        F.col("n_cooc").cast("double")
                        * F.col("T").cast("double")
                        / (F.col("m_a").cast("double") * F.col("m_b").cast("double"))
                    ),
                ).alias("ppmi"),
            )
        )
        return scope.result(out, pairs)


_WALK_SCHEMA = (
    "start string, walk_idx int, nodes array<string>, path string, end_node string"
)
_WALK_COLS = ["start", "walk_idx", "nodes", "path", "end_node"]


def _walks(
    edges: DataFrame,
    length: int,
    walks_per_node: int,
    src_col: str,
    dst_col: str,
    seed: str,
    checkpoint_every: int,
    sep: str,
    driver_threshold: int,
    local_draws,
    draws,
) -> DataFrame:
    """The one walk loop of :func:`random_walks` and :func:`node2vec_walks`.

    At step s the walk (start, walk_idx) at ``cur`` (having come from
    ``prev``) moves to the candidate neighbor d with the smallest
    md5(seed|start|walk_idx|s|d|r) over d's draw replicas r, ties broken
    by d. A walker supplies only its replicas, once per regime:

    - ``local_draws(nbr, prev, d, s)`` -> the replica ids of candidate d
      (``nbr``: vertex -> set of neighbors; ``prev`` is None at step 1);
    - ``draws(cand, sym, s)`` -> the candidate frame (start, walk_idx,
      prev, cur, dst, nodes) with one row per replica in an ``_r`` column;
      ``sym`` is the checkpointed step relation (src, dst).

    A NULL replica drops out of the key (``concat_ws`` skips it, and so
    does the driver-local key), so one NULL replica is the unbiased draw
    md5(seed|start|walk_idx|s|d).

    Adaptive driver-local regime (iterutils.local_graph): each distributed
    step is a checkpointed join+agg job, pure scheduler overhead on a tiny
    graph. The md5 rank keys are replicated bit-for-bit (lowercase hex
    compared as ASCII == UTF8String binary order), so the walks are
    row-identical — asserted at threshold 0 in tests.
    """
    if length < 1:
        raise ValueError("length must be >= 1")
    if walks_per_node < 1:
        # sequence(0, walks_per_node - 1) would DESCEND for 0 (Spark
        # infers step -1), silently emitting walk_idx 0 AND -1.
        raise ValueError("walks_per_node must be >= 1")
    g = local_graph(edges, src_col, dst_col, driver_threshold)
    if g is not None:
        nbr = {v: set(ns) for v, ns in g.adj.items()}
        rows = []
        for start in g.adj:
            for widx in range(walks_per_node):
                prev, cur, nodes = None, start, [start]
                for step in range(1, length + 1):
                    head = f"{seed}|{start}|{widx}|{step}|"
                    _, nxt = min(
                        (md5((head + d if r is None else f"{head}{d}|{r}").encode()).hexdigest(), d)
                        for d in g.adj[cur]
                        for r in local_draws(nbr, prev, d, step)
                    )
                    prev, cur = cur, nxt
                    nodes.append(cur)
                rows.append((start, widx, nodes, sep.join(nodes), cur))
        return local_frame(edges.sparkSession, rows, _WALK_COLS, _WALK_SCHEMA)
    # sym is re-joined every step, and seeds the state: checkpoint it first.
    with checkpoint_scope() as scope:
        sym = _walk_edges(scope, edges, src_col, dst_col)
        state = (
            sym.select(F.col("src").alias("start"))
            .distinct()
            .select(
                "start",
                F.explode(
                    F.sequence(F.lit(0), F.lit(walks_per_node - 1))
                ).alias("walk_idx"),
            )
            .select(
                "start",
                F.col("walk_idx").cast("int"),
                F.lit(None).cast("string").alias("prev"),
                F.col("start").alias("cur"),
                F.array("start").alias("nodes"),
            )
        )
        # Superseded STATE checkpoints are dropped as the loop advances —
        # each eager checkpoint materializes, so its predecessor's blocks
        # are dead weight.
        prev_state = None
        for step in range(1, length + 1):
            cand = draws(state.join(sym.withColumnRenamed("src", "cur"), "cur"), sym, step)
            pick = _h(
                F.lit(seed),
                "start",
                F.col("walk_idx").cast("string"),
                F.lit(str(step)),
                "dst",
                F.col("_r").cast("string"),
            )
            state = (
                cand.groupBy("start", "walk_idx")
                .agg(
                    F.min_by("dst", pick).alias("cur"),
                    # cur and nodes are functionally determined by (start,
                    # walk_idx) at every step — all rows in the group agree,
                    # max is just a deterministic way to say "the" value.
                    F.max("cur").alias("prev"),
                    F.max("nodes").alias("nodes"),
                )
                .select(
                    "start",
                    "walk_idx",
                    "prev",
                    "cur",
                    F.concat("nodes", F.array("cur")).alias("nodes"),
                )
            )
            if step % checkpoint_every == 0 and step < length:
                state = scope.checkpoint(state)
                scope.drop(prev_state)
                prev_state = state
        # Materialize the result; the scope then frees every loop intermediate
        # (an edge-sized adjacency among them).
        return scope.result(
            scope.checkpoint(
                state.select(
                    "start",
                    "walk_idx",
                    "nodes",
                    F.array_join("nodes", sep).alias("path"),
                    F.col("cur").alias("end_node"),
                )
            )
        )


def random_walks(
    edges: DataFrame,
    length: int = 4,
    walks_per_node: int = 1,
    src_col: str = "src",
    dst_col: str = "dst",
    seed: str = "",
    checkpoint_every: int = 4,
    sep: str = " -> ",
    driver_threshold: int = DRIVER_THRESHOLD,
) -> DataFrame:
    """Deterministic fixed-length walks over the undirected simple graph.

    One walk starts at every distinct endpoint, ``walks_per_node`` times
    (walk_idx 0..W-1). At step s the walk at node c moves to the neighbor d
    minimizing md5(seed|start|walk_idx|s|d) — a fresh hash draw per step, so
    distinct walk_idx values diverge and revisits are allowed (as in
    DeepWalk). Self-loops are dropped from the graph; every endpoint of the
    remaining edges has >=1 neighbor, so all walks reach full length.

    Returns (start, walk_idx, nodes, path, end_node): ``nodes`` is the
    lossless array<string> sequence of length+1 nodes (what downstream
    operators should consume — :func:`walk_cooccurrence` does), ``path``
    its sep-joined rendering for humans/oracles.

    The result is eagerly checkpointed and the loop's intermediates
    (including the edge-sized symmetric adjacency) are released before
    returning — pass the result to ``iterutils.release`` after consuming
    it to free the last checkpoint's blocks too.
    """
    # One NULL replica per candidate: the key is md5(seed|start|walk_idx|s|d).
    return _walks(
        edges, length, walks_per_node, src_col, dst_col, seed, checkpoint_every,
        sep, driver_threshold,
        local_draws=lambda nbr, prev, d, step: (None,),
        draws=lambda cand, sym, step: cand.withColumn("_r", F.lit(None).cast("string")),
    )


def node2vec_walks(
    edges: DataFrame,
    length: int = 3,
    walks_per_node: int = 1,
    w_return: int = 1,
    w_common: int = 2,
    w_far: int = 4,
    src_col: str = "src",
    dst_col: str = "dst",
    seed: str = "",
    checkpoint_every: int = 4,
    sep: str = " -> ",
    driver_threshold: int = DRIVER_THRESHOLD,
) -> DataFrame:
    """Deterministic BIASED walks — node2vec's second-order transition
    (Grover & Leskovec 2016) with INTEGER weights, exactly: from (prev,
    cur) a neighbor d weighs ``w_return`` if d == prev (node2vec 1/p),
    ``w_common`` if d is also prev's neighbor (distance 1), else ``w_far``
    (1/q). The weighted choice is realized by REPLICA-ARGMIN: each
    candidate gets w independent md5 draw keys (replica index 0..w-1) and
    the walk takes the argmin over all replicas — P(d) = w_d / Σw EXACTLY
    (each replica is equally likely to be the global minimum), with zero
    floating point, so the walk corpus is engine/partitioning/rerun
    deterministic AND replayable in ANSI SQL (a constant replica table +
    arg_min — the oracle does exactly this). Step 1 is uniform (no prev),
    as in the reference node2vec.

    Weights must be >= 1 (a 0 weight could strand a walk whose only
    neighbor is in that class — scale the OTHER weights up instead). The
    per-step candidate fan-out is multiplied by the weight magnitude: keep
    weights small (their RATIOS are the semantics).

    Returns (start, walk_idx, nodes, path, end_node) — the same shape as
    :func:`random_walks`, so :func:`walk_cooccurrence` consumes it as-is.

    Scale: per step one frontier-sized hash join against the symmetric
    edge list, one hash join against it again on the (prev, dst) key (the
    distance-1 test), a <=max(w)-way replica explode, and a
    map-side-combinable min_by — no windows, no driver state; same
    checkpoint discipline as :func:`random_walks`.
    """
    if min(w_return, w_common, w_far) < 1:
        raise ValueError("weights must be >= 1 (scale the others up instead)")

    def local_draws(nbr, prev, d, step):
        # Step 1 carries replica 0, like the distributed single-replica explode.
        if step == 1:
            return range(1)
        if d == prev:
            return range(w_return)
        return range(w_common if d in nbr[prev] else w_far)

    def draws(cand, sym, step):
        if step == 1:
            w = F.lit(1)
        else:
            # prev's neighborhood, keyed for the distance-1 probe.
            prev_adj = sym.select(
                F.col("src").alias("prev"), F.col("dst").alias("dst"), F.lit(True).alias("_d1")
            )
            cand = cand.join(prev_adj, ["prev", "dst"], "left")
            w = (
                F.when(F.col("dst") == F.col("prev"), F.lit(w_return))
                .when(F.col("_d1"), F.lit(w_common))
                .otherwise(F.lit(w_far))
            )
        return cand.withColumn("_r", F.explode(F.sequence(F.lit(0), w - 1)))

    return _walks(
        edges, length, walks_per_node, src_col, dst_col, seed, checkpoint_every,
        sep, driver_threshold, local_draws, draws,
    )
