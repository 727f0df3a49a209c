"""Single-process golden oracle pipeline (pure Python, Spark-free).

Runs the SAME deterministic extractor (functions/extract.py), normalization,
blocking, similarity scoring and canonicalization as the distributed engine,
but sequentially with a union-find — producing the golden triple set the
Spark pipeline is differentially gated against (BASELINE.json: P/R >= 0.95
on normalized (subj, pred, obj); FIXTURES.md §2).

Because linking here is blocking + scoring + connected components (order
independent), not the reference's greedy first-match scan
(/root/reference/extraction/entity_resolver.py:25-56), permuting the input
rows leaves the golden output unchanged — a property the tests assert.
"""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq

from graphrag_litex_spark.functions.extract import extract_turn
from graphrag_litex_spark.functions.normalize import (
    SIM_THRESHOLD,
    blocking_key,
    char_ngrams,
    jaccard,
    normalize_name,
)


class UnionFind:
    def __init__(self) -> None:
        self.parent: dict[str, str] = {}

    def find(self, x: str) -> str:
        p = self.parent.setdefault(x, x)
        if p != x:
            p = self.find(p)
            self.parent[x] = p
        return p

    def union(self, a: str, b: str) -> None:
        ra, rb = self.find(a), self.find(b)
        if ra != rb:
            # Deterministic: smaller string becomes the root.
            if rb < ra:
                ra, rb = rb, ra
            self.parent[rb] = ra


def link_names(norm_names: set[str]) -> dict[str, str]:
    """Blocking (first token) + char-3-gram Jaccard >= SIM_THRESHOLD + CC.

    Returns {normalized_name -> canonical_name} where the canonical is the
    lexicographically smallest member of the connected component (matches
    both paths of operators/cc.py: the driver-local union-find and the
    distributed star contraction).
    """
    uf = UnionFind()
    blocks: dict[str, list[str]] = {}
    for n in norm_names:
        blocks.setdefault(blocking_key(n), []).append(n)
    for members in blocks.values():
        members.sort()
        grams = {m: char_ngrams(m) for m in members}
        for i, a in enumerate(members):
            for b in members[i + 1 :]:
                if jaccard(grams[a], grams[b]) >= SIM_THRESHOLD:
                    uf.union(a, b)
    canon: dict[str, str] = {}
    # Root chosen by union-find is not necessarily the component min; take
    # the min over each component explicitly.
    comp: dict[str, list[str]] = {}
    for n in norm_names:
        comp.setdefault(uf.find(n), []).append(n)
    for members in comp.values():
        c = min(members)
        for m in members:
            canon[m] = c
    return canon


def _extract_chunk(rows: list[tuple]) -> tuple[list, list, list]:
    raw, claims, mentions = [], [], []
    for c, t, x in rows:
        res = extract_turn(x)
        for e in res["entities"]:
            nn = normalize_name(e["name"])
            mentions.append((c, t, e["name"], nn, e["type"], e["description"]))
        for r in res["relationships"]:
            raw.append((c, t, r["source"], r["description"], r["target"], r["strength"]))
        for cl in res["claims"]:
            claims.append((c, t, cl["content"], cl["entities"]))
    return raw, claims, mentions


def run_oracle(transcripts: pa.Table) -> dict[str, pa.Table]:
    """Full golden pipeline over an in-memory transcripts table."""
    conv = transcripts.column("conv_id").to_pylist()
    turn = transcripts.column("turn_idx").to_pylist()
    text = transcripts.column("text").to_pylist()
    all_rows = list(zip(conv, turn, text))

    if len(all_rows) >= 100_000:
        import multiprocessing as mp

        workers = min(24, mp.cpu_count())
        step = (len(all_rows) + workers * 2 - 1) // (workers * 2)
        parts = [all_rows[i : i + step] for i in range(0, len(all_rows), step)]
        with mp.Pool(workers) as pool:
            results = pool.map(_extract_chunk, parts)
    else:
        results = [_extract_chunk(all_rows)]

    raw_rows: list[tuple] = []  # conv_id, turn_idx, subj_surface, pred, obj_surface, strength
    claim_rows: list[tuple] = []
    mention_rows: list[tuple] = []  # conv_id, turn_idx, name, norm_name, type, description
    for raw, claims, mentions in results:
        raw_rows.extend(raw)
        claim_rows.extend(claims)
        mention_rows.extend(mentions)
    norm_names = {m[3] for m in mention_rows}

    canon = link_names(norm_names)

    triple_rows = [
        (c, t, canon[normalize_name(s)], p, canon[normalize_name(o)], st)
        for (c, t, s, p, o, st) in raw_rows
        if st >= 0.5  # strength filter, /root/reference/indexing/simple_graph_builder.py:83-86
    ]

    def _tbl(cols: dict) -> pa.Table:
        return pa.table(cols)

    return {
        "golden_raw_triples": _tbl(
            {
                "conv_id": pa.array([r[0] for r in raw_rows], pa.string()),
                "turn_idx": pa.array([r[1] for r in raw_rows], pa.int32()),
                "subj_surface": pa.array([r[2] for r in raw_rows], pa.string()),
                "pred": pa.array([r[3] for r in raw_rows], pa.string()),
                "obj_surface": pa.array([r[4] for r in raw_rows], pa.string()),
                "strength": pa.array([r[5] for r in raw_rows], pa.float64()),
            }
        ),
        "golden_triples": _tbl(
            {
                "conv_id": pa.array([r[0] for r in triple_rows], pa.string()),
                "turn_idx": pa.array([r[1] for r in triple_rows], pa.int32()),
                "subj": pa.array([r[2] for r in triple_rows], pa.string()),
                "pred": pa.array([r[3] for r in triple_rows], pa.string()),
                "obj": pa.array([r[4] for r in triple_rows], pa.string()),
                "strength": pa.array([r[5] for r in triple_rows], pa.float64()),
            }
        ),
        "golden_mentions": _tbl(
            {
                "conv_id": pa.array([r[0] for r in mention_rows], pa.string()),
                "turn_idx": pa.array([r[1] for r in mention_rows], pa.int32()),
                "name": pa.array([r[2] for r in mention_rows], pa.string()),
                "norm_name": pa.array([r[3] for r in mention_rows], pa.string()),
                "canonical": pa.array(
                    [canon[r[3]] for r in mention_rows], pa.string()
                ),
                "type": pa.array([r[4] for r in mention_rows], pa.string()),
                "description": pa.array([r[5] for r in mention_rows], pa.string()),
            }
        ),
        "golden_canon_map": _tbl(
            {
                "norm_name": pa.array(sorted(canon), pa.string()),
                "canonical": pa.array([canon[k] for k in sorted(canon)], pa.string()),
            }
        ),
        "golden_claims": _tbl(
            {
                "conv_id": pa.array([r[0] for r in claim_rows], pa.string()),
                "turn_idx": pa.array([r[1] for r in claim_rows], pa.int32()),
                "content": pa.array([r[2] for r in claim_rows], pa.string()),
                "entities": pa.array([r[3] for r in claim_rows], pa.list_(pa.string())),
            }
        ),
    }


def write_goldens(transcripts: pa.Table, paths: dict[str, str]) -> None:
    tables = run_oracle(transcripts)
    for name, tbl in tables.items():
        pq.write_table(tbl, paths[name])
