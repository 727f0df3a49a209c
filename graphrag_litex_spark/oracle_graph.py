"""Single-process golden oracle for the community path (F1/F2/E5/E6 + S11 +
query top-k) — extends oracle.py past claims.

Pure-Python sequential implementations of the SAME deterministic algorithms
as operators/communities.py and querying/answer.py (synchronous LPA with
(count desc, label asc) tie-breaking, min-size enforcement, one-pass
hierarchy recursion, nx-style density/flow stats, deterministic summarizer,
hash-embed cosine top-k), computed from the golden triple/mention tables that
oracle.py already emits. Float expressions replicate the exact evaluation
order of the corresponding Catalyst expressions; rounding is HALF_UP via
decimal to match ``F.round``. Turns the round-1 ``no_oracle`` rows for
kg_communities / kg_community_stats / kg_summaries / kg_query_topk into real
differential checks.
"""

from __future__ import annotations

import hashlib
import json
import os
from decimal import ROUND_HALF_UP, Decimal

import pyarrow as pa
import pyarrow.parquet as pq

from graphrag_litex_spark.functions.normalize import hash_embed

GRAPH_GOLDEN_VERSION = 14  # v14: + canonical shortest path


def _r(x: float, digits: int) -> float:
    return float(Decimal(x).quantize(Decimal(1).scaleb(-digits), rounding=ROUND_HALF_UP))


def _eid(canonical: str) -> str:
    return hashlib.sha256(canonical.encode("utf-8")).hexdigest()[:32]


def _pred_key(p: str) -> str:
    return f"{len(p):06d}" + p


# ---- graph construction from goldens (mirrors merge.py + pipeline.py) ----


def merged_edges(triple_rows: list[tuple]) -> list[dict]:
    """(conv_id, turn_idx, subj, pred, obj, strength) rows -> merged edges
    (same identity/agg semantics as merge_edges; strength filter is already
    applied in golden_triples)."""
    groups: dict[tuple, list] = {}
    for _c, _t, s, p, o, st in triple_rows:
        groups.setdefault((s, o), []).append((p, st))
    out = []
    for (s, o), obs in groups.items():
        preds = [p for p, _ in obs]
        out.append(
            {
                "src": s,
                "dst": o,
                "src_id": _eid(s),
                "dst_id": _eid(o),
                "pred": max(preds, key=_pred_key),
                "strength": sum(st for _, st in obs) / len(obs),
                "n_obs": len(obs),
            }
        )
    return out


def node_names(mention_rows: list[tuple]) -> dict[str, str]:
    """entity_id -> display name = min surface among canonical-form mentions
    (merge_nodes name semantics)."""
    best: dict[str, str] = {}
    for name, norm_name, canonical in mention_rows:
        if norm_name == canonical:
            eid = _eid(canonical)
            if eid not in best or name < best[eid]:
                best[eid] = name
    return best


def _und_edges(edges: list[dict]) -> set[tuple[str, str]]:
    out = set()
    for e in edges:
        a, b = e["src_id"], e["dst_id"]
        if a != b:
            out.add((a, b) if a < b else (b, a))
    return out


def _adj(und: set[tuple[str, str]]) -> dict[str, list[str]]:
    adj: dict[str, list[str]] = {}
    for a, b in und:
        adj.setdefault(a, []).append(b)
        adj.setdefault(b, []).append(a)
    return adj


def k_core_golden(und: set[tuple[str, str]], k: int) -> dict[str, int]:
    """Sequential k-core peeling -> {vertex: core_degree}. Order of peeling
    is irrelevant to the fixpoint, so this oracles the distributed
    round-based peel in operators/graph_analytics.k_core."""
    adj = {v: set(ns) for v, ns in _adj(und).items()}
    changed = True
    while changed:
        changed = False
        for v in list(adj):
            if v in adj and len(adj[v]) < k:
                for n in adj.pop(v):
                    adj[n].discard(v)
                changed = True
    return {v: len(ns) for v, ns in adj.items()}


def k_truss_golden(und: set[tuple[str, str]], k: int) -> dict[tuple[str, str], int]:
    """Sequential k-truss peeling -> {(a, b): support} for surviving edges
    (a < b). Truss peeling is confluent (removals only lower other
    supports), so this oracles the distributed round-based peel in
    operators/graph_analytics.k_truss."""
    edges = set(und)
    thresh = max(k - 2, 0)
    while True:
        adj: dict[str, set] = {}
        for a, b in edges:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
        supp = {(a, b): len(adj[a] & adj[b]) for a, b in edges}
        bad = {e for e, s in supp.items() if s < thresh}
        if not bad:
            return supp
        edges -= bad
        if not edges:
            return {}


def component_sizes_golden(und: set[tuple[str, str]]) -> dict[int, int]:
    """Union-find over the undirected edge set -> {component_size:
    n_components} — oracles the CC-based fragmentation histogram."""
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in und:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    sizes: dict[str, int] = {}
    for v in parent:
        r = find(v)
        sizes[r] = sizes.get(r, 0) + 1
    hist: dict[int, int] = {}
    for n in sizes.values():
        hist[n] = hist.get(n, 0) + 1
    return hist


def neighborhood_golden(
    und: set[tuple[str, str]], max_t: int = 4
) -> list[tuple[int, float]]:
    """Exact neighborhood function N(t) = # ordered pairs within distance
    t (self-pairs included) by per-vertex BFS, with the same early-exit
    (stop after the first repeated total, inclusive) as
    operators/graph_analytics.neighborhood_function. Oracles the HyperBall
    estimate at test scale, where balls << 2^lg_k keep the sketches in
    exact coupon mode."""
    adj = _adj(und)
    balls = {v: {v} for v in adj}
    out = [(0, float(len(adj)))]
    for t in range(1, max_t + 1):
        balls = {
            v: set().union(b, *(balls[n] for n in adj[v]))
            for v, b in balls.items()
        }
        total = float(sum(len(b) for b in balls.values()))
        out.append((t, total))
        if total == out[-2][1]:
            break
    return out


def shortest_path_golden(
    und: set[tuple[str, str]], source: str, target: str, max_hops: int = 10
) -> tuple[bool, int, str]:
    """Canonical shortest path (min-name BFS parent per vertex, backtrack
    the parent chain) -> (found, hops, ' -> '-joined path). Oracles
    operators/graph_analytics.shortest_path."""
    adj = _adj(und)
    if source not in adj:
        return (False, -1, "")
    if source == target:
        return (True, 0, source)
    parent: dict[str, str | None] = {source: None}
    frontier = [source]
    found = None
    for hop in range(1, max_hops + 1):
        layer: dict[str, str] = {}
        for u in frontier:
            for v in adj[u]:
                if v not in parent and (v not in layer or u < layer[v]):
                    layer[v] = u
        if not layer:
            break
        parent.update(layer)
        frontier = sorted(layer)
        if target in layer:
            found = hop
            break
    if found is None:
        return (False, -1, "")
    path = [target]
    cur: str = target
    while parent[cur] is not None:
        cur = parent[cur]  # type: ignore[assignment]
        path.append(cur)
    return (True, found, " -> ".join(reversed(path)))


def wl_golden(und: set[tuple[str, str]], rounds: int = 3) -> dict[str, str]:
    """Weisfeiler-Lehman refinement -> {vertex: wl_label str}: label_0 =
    degree, label_{i+1} = xxhash64(label || '|' || comma-joined ascending
    neighbor labels) via the bit-exact Spark-xxhash64 replica — oracles
    operators/graph_analytics.wl_signatures."""
    from graphrag_litex_spark.functions.xxh64 import xxhash64_str

    adj = _adj(und)
    labels = {v: str(len(ns)) for v, ns in adj.items()}
    for _ in range(max(rounds, 0)):
        labels = {
            v: str(
                xxhash64_str(
                    labels[v] + "|" + ",".join(sorted(labels[n] for n in adj[v]))
                )
            )
            for v in adj
        }
    return labels


def harmonic_closeness_golden(
    und: set[tuple[str, str]], n_sources: int = 8, max_hops: int = 6
) -> dict[str, tuple[int, int, float]]:
    """Sequential replica of operators/graph_analytics.harmonic_closeness:
    pivots = smallest (xxhash64(name), name) vertices; plain BFS per pivot;
    per vertex (n_reached, harmonic60 = sum 60//dist, closeness = exactly
    rounded harmonic60 / (60*k)). Excludes dist-0 self rows like the
    operator."""
    from graphrag_litex_spark.functions.xxh64 import xxhash64_str

    adj = _adj(und)
    verts = sorted(adj)
    pivots = sorted(verts, key=lambda v: (xxhash64_str(v), v))[:n_sources]
    if not pivots:
        return {}
    acc: dict[str, list[int]] = {}
    for s in pivots:
        dist = {s: 0}
        frontier = [s]
        for hop in range(1, max_hops + 1):
            nxt = []
            for u in frontier:
                for v in adj.get(u, ()):
                    if v not in dist:
                        dist[v] = hop
                        nxt.append(v)
            if not nxt:
                break
            frontier = nxt
        for v, d in dist.items():
            if d > 0:
                e = acc.setdefault(v, [0, 0])
                e[0] += 1
                e[1] += 60 // d
    return {
        v: (n, h, _r(h / (60 * len(pivots)), 6)) for v, (n, h) in acc.items()
    }


def betweenness_golden(
    und: set[tuple[str, str]],
    n_sources: int = 8,
    max_hops: int = 8,
    sources: list[str] | None = None,
) -> dict[str, float]:
    """Sequential replica of operators/graph_analytics.betweenness_approx:
    Brandes dependency accumulation from the same deterministically-sampled
    pivots (smallest (xxhash64(name), name)), BFS truncated at ``max_hops``
    exactly like the operator. Returns {vertex: round(sum of deltas, 6)}
    over every vertex settled at dist > 0 from some pivot (leaves included
    at 0.0). FP sum order differs from Spark's shuffle order only at the
    ~1e-15 tail, far under the published 6dp rounding."""
    from graphrag_litex_spark.functions.xxh64 import xxhash64_str

    adj = _adj(und)
    if sources is None:
        verts = sorted(adj)
        sources = sorted(verts, key=lambda v: (xxhash64_str(v), v))[:n_sources]
    acc: dict[str, float] = {}
    for s in sources:
        dist = {s: 0}
        sigma = {s: 1}
        levels: list[list[str]] = [[s]]
        for hop in range(1, max_hops + 1):
            nxt: list[str] = []
            for u in levels[-1]:
                for v in adj.get(u, ()):
                    if v not in dist:
                        dist[v] = hop
                        sigma[v] = 0
                        nxt.append(v)
                    if dist[v] == hop:
                        sigma[v] += sigma[u]
            if not nxt:
                break
            levels.append(nxt)
        delta = {v: 0.0 for v in dist}
        for lvl in reversed(levels[1:]):
            for w in lvl:
                for u in adj.get(w, ()):
                    if dist.get(u) == dist[w] - 1:
                        delta[u] += sigma[u] / sigma[w] * (1.0 + delta[w])
        for v, d in dist.items():
            if d > 0:
                acc[v] = acc.get(v, 0.0) + delta[v]
    return {v: _r(x, 6) for v, x in acc.items()}


def pagerank_golden(
    und: set[tuple[str, str]],
    damping: float = 0.85,
    iters: int = 10,
    seeds: list[str] | None = None,
) -> dict[str, float]:
    """Pure-Python replica of operators/pagerank.pagerank: damped power
    iteration on the undirected simple graph (no dangling vertices by
    construction); with ``seeds``, the personalized form (teleport mass
    uniform over the seeds present in the graph). FP sums differ from
    Spark's shuffle order only at the ~1e-15 tail, far under the 1e-6
    rounding both sides publish."""
    adj = _adj(und)
    verts = sorted(adj)
    n = len(verts)
    if n == 0:
        return {}
    if seeds is None:
        base = dict.fromkeys(verts, (1.0 - damping) / n)
        r = dict.fromkeys(verts, 1.0 / n)
    else:
        present = sorted(set(seeds) & set(verts))
        if not present:
            return {}
        base = {v: ((1.0 - damping) / len(present) if v in present else 0.0) for v in verts}
        r = {v: (1.0 / len(present) if v in present else 0.0) for v in verts}
    for _ in range(iters):
        acc = dict.fromkeys(verts, 0.0)
        for v in verts:
            share = r[v] / len(adj[v])
            for u in adj[v]:
                acc[u] += share
        r = {v: base[v] + damping * acc[v] for v in verts}
    return r


def local_search_seeds(question: str, canon_pairs: list[tuple[str, str]]) -> list[str]:
    """Seed selection shared verbatim by the Spark query path and the
    golden: canonical entities whose normalized surface form appears as a
    whole-word substring of the normalized question (>= 3 chars).
    ``canon_pairs`` = (norm_name, canonical)."""
    from graphrag_litex_spark.functions.normalize import normalize_name

    nq = f" {normalize_name(question)} "
    return sorted(
        {c for nn, c in canon_pairs if len(nn) >= 3 and f" {nn} " in nq}
    )


# ---- LPA + hierarchy (mirrors operators/communities.py) ----


def label_propagation(vertices: list[str], und: set[tuple[str, str]], iters: int = 8) -> dict[str, str]:
    adj = _adj(und)
    labels = {v: v for v in vertices}
    for _ in range(iters):
        new = {}
        for u in vertices:
            nbrs = adj.get(u)
            if not nbrs:
                new[u] = u  # isolated: coalesce(label, u) resets to own id
                continue
            counts: dict[str, int] = {}
            for v in nbrs:
                lbl = labels[v]
                counts[lbl] = counts.get(lbl, 0) + 1
            # most frequent, tie -> smallest label
            new[u] = min(counts, key=lambda lbl: (-counts[lbl], lbl))
        if new == labels:
            break
        labels = new
    return labels


def _enforce_min_size(labels: dict[str, str], min_size: int) -> dict[str, str]:
    sizes: dict[str, int] = {}
    for lbl in labels.values():
        sizes[lbl] = sizes.get(lbl, 0) + 1
    valid = {lbl for lbl, sz in sizes.items() if sz >= min_size}
    if valid:
        target = min(valid, key=lambda lbl: (-sizes[lbl], lbl))
    else:
        target = min(sizes, key=lambda lbl: (-sizes[lbl], lbl))
        valid = {target}
    return {u: (lbl if lbl in valid else target) for u, lbl in labels.items()}


def detect_communities(
    vertices: list[str],
    und: set[tuple[str, str]],
    levels: int = 3,
    min_size: int = 3,
    lpa_iters: int = 8,
) -> list[tuple[int, str, str | None, str]]:
    """-> [(level, community_id, parent, entity_id)...]"""
    l0 = _enforce_min_size(label_propagation(vertices, und, lpa_iters), min_size)
    membership = [(0, "0_" + lbl, None, u) for u, lbl in l0.items()]
    prev: dict[str, list[str]] = {}
    for _lvl, cid, _par, u in membership:
        prev.setdefault(cid, []).append(u)

    for level in range(1, levels):
        cur: list[tuple[int, str, str | None, str]] = []
        nxt: dict[str, list[str]] = {}
        for cid, members in prev.items():
            if len(members) <= 2 * min_size:
                child = f"{level}_{cid}"
                for u in members:
                    cur.append((level, child, cid, u))
                nxt.setdefault(child, []).extend(members)
            else:
                mset = set(members)
                sub_und = {(a, b) for a, b in und if a in mset and b in mset}
                sub = label_propagation(sorted(mset), sub_und, lpa_iters)
                children: dict[str, list[str]] = {}
                for u, lbl in sub.items():
                    children.setdefault(f"{level}_{lbl}", []).append(u)
                for child, cmembers in children.items():
                    if len(cmembers) >= min_size:  # below min_size: dropped
                        for u in cmembers:
                            cur.append((level, child, cid, u))
                        nxt.setdefault(child, []).extend(cmembers)
        membership.extend(cur)
        prev = nxt

    return membership


# ---- stats (mirrors community_stats) ----


def community_stats(
    membership: list[tuple], und: set[tuple[str, str]]
) -> list[dict]:
    by_level: dict[int, dict[str, str]] = {}
    sizes: dict[tuple[int, str], int] = {}
    for level, cid, _par, u in membership:
        by_level.setdefault(level, {})[u] = cid
        sizes[(level, cid)] = sizes.get((level, cid), 0) + 1

    internal: dict[tuple[int, str], int] = {}
    external: dict[tuple[int, str], int] = {}
    for level, comm_of in by_level.items():
        for a, b in und:
            for u, v in ((a, b), (b, a)):
                cu = comm_of.get(u)
                if cu is None:
                    continue
                if comm_of.get(v) == cu:
                    internal[(level, cu)] = internal.get((level, cu), 0) + 1
                else:
                    external[(level, cu)] = external.get((level, cu), 0) + 1

    out = []
    for (level, cid), size in sizes.items():
        internal_d = internal.get((level, cid), 0) / 2  # double like Spark
        external_d = float(external.get((level, cid), 0))
        total = internal_d + external_d
        pi = internal_d / total if total > 0 else 0.0
        density = 2.0 * internal_d / (size * (size - 1)) if size > 1 else 0.0
        flow = pi if size > 1 else 0.0
        out.append(
            {
                "level": level,
                "community_id": cid,
                "size": size,
                "density": density,
                "flow": flow,
                "internal": internal_d,
                "external": external_d,
            }
        )
    return out


# ---- summaries (mirrors summarize_communities) ----


def summarize(
    membership: list[tuple],
    stats: list[dict],
    und: set[tuple[str, str]],
    edges: list[dict],
    names: dict[str, str],
    top_findings: int = 5,
) -> list[dict]:
    by_comm: dict[tuple[int, str], list[str]] = {}
    comm_at: dict[int, dict[str, str]] = {}
    for level, cid, _par, u in membership:
        by_comm.setdefault((level, cid), []).append(u)
        comm_at.setdefault(level, {})[u] = cid

    adj = _adj(und)

    # Pass 1: titles for every community (parents embed child TITLES below,
    # mirroring summarize_communities' child_titles self-join — the
    # relational replacement for the reference's deepest-first sequencing,
    # indexing/summarizer.py:68,164-177).
    titles: dict[tuple[int, str], str | None] = {}
    for st in stats:
        level, cid = st["level"], st["community_id"]
        members = by_comm[(level, cid)]
        mset = set(members)
        best = None
        for u in members:
            deg = sum(1 for v in adj.get(u, ()) if v in mset)
            if deg == 0:
                continue
            nm = names.get(u)
            key = (-deg, nm if nm is not None else "￿￿")
            if best is None or key < best[0]:
                best = (key, nm)
        titles[(level, cid)] = best[1] if best else None

    # children of (L, C) = distinct communities at L+1 whose parent == C
    children: dict[tuple[int, str], set[tuple[int, str]]] = {}
    for level, cid, par, _u in membership:
        if level >= 1:
            children.setdefault((level - 1, par), set()).add((level, cid))

    out = []
    for st in stats:
        level, cid, size = st["level"], st["community_id"], st["size"]
        members = by_comm[(level, cid)]
        mset = set(members)
        title = titles[(level, cid)]
        sub_titles = sorted(
            t
            for t in (titles.get(ch) for ch in children.get((level, cid), ()))
            if t is not None
        )

        # findings: top intra edges by (strength desc, src, dst, pred)
        intra = [
            e
            for e in edges
            if e["src_id"] in mset
            and e["dst_id"] in mset
            and comm_at[level].get(e["src_id"]) == cid
            and comm_at[level].get(e["dst_id"]) == cid
        ]
        intra.sort(key=lambda e: (-e["strength"], e["src"], e["dst"], e["pred"]))
        findings = [f"{e['src']} {e['pred']} {e['dst']}" for e in intra[:top_findings]]

        member_names = sorted(names.get(u, "") for u in members)
        summary = (
            f"Community of {len(members)} entities including "
            + ", ".join(member_names[:3])
            + "."
        )
        rating_raw = size / 3.0 + 5.0 * st["density"]
        rating = _r(rating_raw if rating_raw < 10.0 else 10.0, 2)
        sub_seg = "Sub-communities: " + "; ".join(sub_titles) + "." if sub_titles else None
        full_parts = [
            p for p in (title, summary, " ".join(findings), sub_seg) if p is not None
        ]
        full_text = " ".join(full_parts)
        out.append(
            {
                "level": level,
                "community_id": cid,
                "title": title,
                "summary": summary,
                "rating": rating,
                "full_text": full_text,
                "findings": findings,
            }
        )
    return out


# ---- query top-k (mirrors querying/answer.select_top_k) ----


def query_topk(
    summaries: list[dict], question: str, level: int = 0, k: int = 5, dim: int = 64
) -> list[dict]:
    qv = hash_embed(question, dim)

    def cosine(a: list[float], b: list[float]) -> float:
        na = 0.0
        for v in a:
            na = na + v * v
        nb = 0.0
        for v in b:
            nb = nb + v * v
        denom = na**0.5 * nb**0.5
        if denom == 0:
            return 0.0
        acc = 0.0
        for x, y in zip(a, b):
            acc = acc + x * y
        return acc / denom

    scored = [
        {
            "level": s["level"],
            "community_id": s["community_id"],
            "title": s["title"],
            "score": _r(cosine(hash_embed(s["full_text"], dim), qv), 6),
        }
        for s in summaries
        if s["level"] == level
    ]
    scored.sort(key=lambda r: (-r["score"], r["community_id"]))
    return scored[:k]


def global_search_golden(
    summaries: list[dict], topk: list[dict], question: str
) -> list[dict]:
    """Sequential replica of querying/answer.map_answers over the golden
    top-k selection (the J1 map phase of global search): answer = the
    selected community's findings sharing >=1 token with the question,
    helpfulness = 100 * Jaccard(question tokens, full_text tokens) rounded
    HALF_UP to 4dp; empty answers dropped (reference map_reduce.py:35).
    Token split replicates Spark's ``split(lower(x), '[^a-z0-9]+')`` with
    limit=-1 — re.split keeps the same leading/trailing '' fragments
    (dropped from the question's tokens, as ``array_remove`` does)."""
    import re

    q_tokens = set(re.split(r"[^a-z0-9]+", question.lower())) - {""}
    by_key = {(s["level"], s["community_id"]): s for s in summaries}
    out = []
    for r in topk:
        s = by_key[(r["level"], r["community_id"])]
        s_tokens = set(re.split(r"[^a-z0-9]+", s["full_text"].lower()))
        inter = len(s_tokens & q_tokens)
        union = len(s_tokens | q_tokens)
        helpful = _r(100.0 * inter / union, 4) if union > 0 else 0.0
        relevant = [
            f
            for f in s["findings"]
            if set(re.split(r"[^a-z0-9]+", f.lower())) & q_tokens
        ]
        answer = " ".join(relevant)
        if answer == "":
            continue
        out.append(
            {
                "level": r["level"],
                "community_id": r["community_id"],
                "title": r["title"],
                "answer": answer,
                "helpfulness": helpful,
                "score": r["score"],
            }
        )
    return out


# ---- driver ----


def ensure_graph_goldens(paths: dict[str, str]) -> dict[str, str]:
    """Compute (once) golden parquet for the community path from the KG
    goldens that oracle.py already wrote under the same directory."""
    out_dir = paths["dir"]
    gpaths = {
        "golden_communities": os.path.join(out_dir, "golden_communities.parquet"),
        "golden_community_stats": os.path.join(out_dir, "golden_community_stats.parquet"),
        "golden_summaries": os.path.join(out_dir, "golden_summaries.parquet"),
        "golden_query_topk": os.path.join(out_dir, "golden_query_topk.parquet"),
        "golden_pagerank": os.path.join(out_dir, "golden_pagerank.parquet"),
        "golden_local_search": os.path.join(out_dir, "golden_local_search.parquet"),
        "golden_local_context": os.path.join(out_dir, "golden_local_context.parquet"),
        "golden_kcore": os.path.join(out_dir, "golden_kcore.parquet"),
        "golden_ktruss": os.path.join(out_dir, "golden_ktruss.parquet"),
        "golden_component_sizes": os.path.join(
            out_dir, "golden_component_sizes.parquet"
        ),
        "golden_neighborhood": os.path.join(out_dir, "golden_neighborhood.parquet"),
        "golden_shortest_path": os.path.join(
            out_dir, "golden_shortest_path.parquet"
        ),
        "golden_wl_roles": os.path.join(out_dir, "golden_wl_roles.parquet"),
        "golden_drift_search": os.path.join(out_dir, "golden_drift_search.parquet"),
        "golden_closeness": os.path.join(out_dir, "golden_closeness.parquet"),
        "golden_betweenness": os.path.join(out_dir, "golden_betweenness.parquet"),
        "golden_global_search": os.path.join(out_dir, "golden_global_search.parquet"),
    }
    manifest = os.path.join(out_dir, "_graph_manifest.json")
    want = {
        "version": GRAPH_GOLDEN_VERSION,
        "triples_mtime": os.stat(paths["golden_triples"]).st_mtime_ns,
        "mentions_mtime": os.stat(paths["golden_mentions"]).st_mtime_ns,
    }
    if os.path.exists(manifest):
        with open(manifest) as f:
            if json.load(f) == want and all(os.path.exists(p) for p in gpaths.values()):
                return gpaths

    triples = pq.read_table(paths["golden_triples"])
    triple_rows = list(
        zip(
            triples.column("conv_id").to_pylist(),
            triples.column("turn_idx").to_pylist(),
            triples.column("subj").to_pylist(),
            triples.column("pred").to_pylist(),
            triples.column("obj").to_pylist(),
            triples.column("strength").to_pylist(),
        )
    )
    mentions = pq.read_table(
        paths["golden_mentions"], columns=["name", "norm_name", "canonical"]
    )
    mention_rows = list(
        zip(
            mentions.column("name").to_pylist(),
            mentions.column("norm_name").to_pylist(),
            mentions.column("canonical").to_pylist(),
        )
    )
    canon = pq.read_table(paths["golden_canon_map"], columns=["canonical"])
    vertices = sorted({_eid(c) for c in canon.column("canonical").to_pylist()})

    edges = merged_edges(triple_rows)
    names = node_names(mention_rows)
    und = _und_edges(edges)

    und_names = set()
    for e in edges:
        s_, o_ = e["src"], e["dst"]
        if s_ != o_:
            und_names.add((s_, o_) if s_ < o_ else (o_, s_))
    pr = pagerank_golden(und_names)

    # Local search: personalized PageRank seeded by the benchmark question's
    # matched entities (same seed rule as querying.answer.local_search).
    canon_pairs_tbl = pq.read_table(paths["golden_canon_map"], columns=["norm_name", "canonical"])
    canon_pairs = list(
        zip(
            canon_pairs_tbl.column("norm_name").to_pylist(),
            canon_pairs_tbl.column("canonical").to_pylist(),
        )
    )
    ls_seeds = local_search_seeds("who acquired acme corp", canon_pairs)
    ls = pagerank_golden(und_names, seeds=ls_seeds)
    ls_top = sorted(ls.items(), key=lambda kv: (-_r(kv[1], 6), kv[0]))[:10]

    # Local-search context: top entities vote for the chunks mentioning them
    # (distinct entity per chunk; sum of rounded entity scores).
    ment_ctx = pq.read_table(
        paths["golden_mentions"], columns=["conv_id", "turn_idx", "canonical"]
    )
    ent_score = {n_: _r(v, 6) for n_, v in ls_top}
    chunk_ents: dict[str, set] = {}
    for conv, turn, canon in zip(
        ment_ctx.column("conv_id").to_pylist(),
        ment_ctx.column("turn_idx").to_pylist(),
        ment_ctx.column("canonical").to_pylist(),
    ):
        if canon in ent_score:
            chunk_ents.setdefault(f"{conv}_{turn}", set()).add(canon)
    ctx_rows = sorted(
        (
            (cid, _r(sum(ent_score[c] for c in ents), 6), len(ents))
            for cid, ents in chunk_ents.items()
        ),
        key=lambda r: (-r[1], r[0]),
    )[:5]

    membership = detect_communities(vertices, und)
    stats = community_stats(membership, und)
    summaries = summarize(membership, stats, und, edges, names)
    topk = query_topk(summaries, "who acquired acme corp", level=0, k=5)

    pq.write_table(
        pa.table(
            {
                "level": pa.array([m[0] for m in membership], pa.int32()),
                "community_id": pa.array([m[1] for m in membership]),
                "parent": pa.array([m[2] for m in membership], pa.string()),
                "entity_id": pa.array([m[3] for m in membership]),
            }
        ),
        gpaths["golden_communities"],
    )
    pq.write_table(
        pa.table(
            {
                "level": pa.array([s["level"] for s in stats], pa.int32()),
                "community_id": pa.array([s["community_id"] for s in stats]),
                "size": pa.array([s["size"] for s in stats], pa.int64()),
                "density": pa.array([_r(s["density"], 6) for s in stats], pa.float64()),
                "flow": pa.array([_r(s["flow"], 6) for s in stats], pa.float64()),
            }
        ),
        gpaths["golden_community_stats"],
    )
    pq.write_table(
        pa.table(
            {
                "level": pa.array([s["level"] for s in summaries], pa.int32()),
                "community_id": pa.array([s["community_id"] for s in summaries]),
                "title": pa.array([s["title"] for s in summaries], pa.string()),
                "rating": pa.array([s["rating"] for s in summaries], pa.float64()),
                "summary": pa.array([s["summary"] for s in summaries]),
            }
        ),
        gpaths["golden_summaries"],
    )
    pq.write_table(
        pa.table(
            {
                "level": pa.array([r["level"] for r in topk], pa.int32()),
                "community_id": pa.array([r["community_id"] for r in topk]),
                "title": pa.array([r["title"] for r in topk], pa.string()),
                "score": pa.array([r["score"] for r in topk], pa.float64()),
            }
        ),
        gpaths["golden_query_topk"],
    )
    pq.write_table(
        pa.table(
            {
                "name": pa.array([n_ for n_, _v in ls_top], pa.string()),
                "score": pa.array([_r(v, 6) for _n, v in ls_top], pa.float64()),
            }
        ),
        gpaths["golden_local_search"],
    )
    gsearch = global_search_golden(summaries, topk, "who acquired acme corp")
    pq.write_table(
        pa.table(
            {
                "level": pa.array([g["level"] for g in gsearch], pa.int32()),
                "community_id": pa.array([g["community_id"] for g in gsearch]),
                "title": pa.array([g["title"] for g in gsearch], pa.string()),
                "answer": pa.array([g["answer"] for g in gsearch], pa.string()),
                "helpfulness": pa.array([g["helpfulness"] for g in gsearch], pa.float64()),
                "score": pa.array([g["score"] for g in gsearch], pa.float64()),
            }
        ),
        gpaths["golden_global_search"],
    )
    pq.write_table(
        pa.table(
            {
                "chunk_id": pa.array([r[0] for r in ctx_rows], pa.string()),
                "chunk_score": pa.array([r[1] for r in ctx_rows], pa.float64()),
                "n_entities": pa.array([r[2] for r in ctx_rows], pa.int64()),
            }
        ),
        gpaths["golden_local_context"],
    )
    # DRIFT search: top-3 level-0 communities (global) + question entities
    # seed a personalized PageRank (local). Mirrors querying.answer
    # drift_search (same question/k as the kg_drift_search contract query).
    eid_to_name = {_eid(c): c for _n2, c in canon_pairs}
    drift_comm_ids = {r["community_id"] for r in topk[:3]}
    member_names = {
        eid_to_name[m[3]]
        for m in membership
        if m[0] == 0 and m[1] in drift_comm_ids and m[3] in eid_to_name
    }
    drift_seeds = sorted(member_names | set(ls_seeds))
    drift = pagerank_golden(und_names, seeds=drift_seeds)
    drift_top = sorted(drift.items(), key=lambda kv: (-_r(kv[1], 6), kv[0]))[:10]
    pq.write_table(
        pa.table(
            {
                "name": pa.array([n_ for n_, _v in drift_top], pa.string()),
                "score": pa.array([_r(v, 6) for _n, v in drift_top], pa.float64()),
            }
        ),
        gpaths["golden_drift_search"],
    )

    clos = harmonic_closeness_golden(und_names, n_sources=8, max_hops=6)
    cnames = sorted(clos)
    pq.write_table(
        pa.table(
            {
                "name": pa.array(cnames, pa.string()),
                "n_reached": pa.array([clos[v][0] for v in cnames], pa.int64()),
                "harmonic60": pa.array([clos[v][1] for v in cnames], pa.int64()),
                "closeness": pa.array([clos[v][2] for v in cnames], pa.float64()),
            }
        ),
        gpaths["golden_closeness"],
    )

    btw = betweenness_golden(und_names, n_sources=8, max_hops=8)
    bnames = sorted(btw)
    pq.write_table(
        pa.table(
            {
                "name": pa.array(bnames, pa.string()),
                "betweenness": pa.array([btw[v] for v in bnames], pa.float64()),
            }
        ),
        gpaths["golden_betweenness"],
    )

    core = k_core_golden(und_names, 2)
    core_names = sorted(core)
    pq.write_table(
        pa.table(
            {
                "name": pa.array(core_names, pa.string()),
                "core_degree": pa.array([core[v] for v in core_names], pa.int64()),
            }
        ),
        gpaths["golden_kcore"],
    )
    # Canonical shortest path between the two top-degree entities (degree
    # desc, name asc — the same deterministic endpoint rule as the query).
    sp_deg: dict[str, int] = {}
    for a, b in und_names:
        sp_deg[a] = sp_deg.get(a, 0) + 1
        sp_deg[b] = sp_deg.get(b, 0) + 1
    sp_top = sorted(sp_deg, key=lambda v: (-sp_deg[v], v))[:2]
    if len(sp_top) == 2:
        sp = shortest_path_golden(und_names, sp_top[0], sp_top[1])
    else:
        sp = (False, -1, "")
    pq.write_table(
        pa.table(
            {
                "found": pa.array([sp[0]], pa.bool_()),
                "hops": pa.array([sp[1]], pa.int32()),
                "path_str": pa.array([sp[2]], pa.string()),
            }
        ),
        gpaths["golden_shortest_path"],
    )
    nf = neighborhood_golden(und_names, max_t=4)
    pq.write_table(
        pa.table(
            {
                "t": pa.array([r[0] for r in nf], pa.int32()),
                "reachable_pairs": pa.array([r[1] for r in nf], pa.float64()),
            }
        ),
        gpaths["golden_neighborhood"],
    )
    comp_hist = component_sizes_golden(und_names)
    comp_sizes = sorted(comp_hist)
    pq.write_table(
        pa.table(
            {
                "size": pa.array(comp_sizes, pa.int64()),
                "n_components": pa.array(
                    [comp_hist[s] for s in comp_sizes], pa.int64()
                ),
            }
        ),
        gpaths["golden_component_sizes"],
    )
    truss = k_truss_golden(und_names, 4)
    truss_keys = sorted(truss)
    pq.write_table(
        pa.table(
            {
                "a": pa.array([t[0] for t in truss_keys], pa.string()),
                "b": pa.array([t[1] for t in truss_keys], pa.string()),
                "support": pa.array([truss[t] for t in truss_keys], pa.int64()),
            }
        ),
        gpaths["golden_ktruss"],
    )
    wl = wl_golden(und_names, rounds=2)
    wl_hist: dict[str, int] = {}
    for _v, lab in wl.items():
        wl_hist[lab] = wl_hist.get(lab, 0) + 1
    wl_labels = sorted(wl_hist)
    pq.write_table(
        pa.table(
            {
                "wl_label": pa.array(wl_labels, pa.string()),
                "n_vertices": pa.array([wl_hist[x] for x in wl_labels], pa.int64()),
            }
        ),
        gpaths["golden_wl_roles"],
    )
    pr_names = sorted(pr)
    pq.write_table(
        pa.table(
            {
                "name": pa.array(pr_names, pa.string()),
                "rank": pa.array([_r(pr[v], 6) for v in pr_names], pa.float64()),
            }
        ),
        gpaths["golden_pagerank"],
    )
    with open(manifest, "w") as f:
        json.dump(want, f)
    return gpaths
