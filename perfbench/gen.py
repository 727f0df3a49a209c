"""Seeded workload inputs for the benchmark.

Every table here is a pure function of ``(workload shape, seed)``. The
conversation shape is the one ``graphrag_litex_spark.datagen`` produces
(Zipf-sized conversations, triple / mention / claim / filler sentences,
surface-form variants); only the entity vocabulary differs:

* ``narrow`` — ``datagen.generate_conversation`` itself: the fixed
  ~52-name Zipf-hot vocabulary, so linking, CC and LPA run driver-local.
* ``wide`` — a synthetic ~10^6-name vocabulary. A share of the entity picks
  is uniform over the whole vocabulary (distinct names grow with the
  corpus) and the rest come from a Zipf head, so the name graph is large
  and the entity graph has cross-conversation bridges.
"""

from __future__ import annotations

import os
from datetime import datetime, timezone
from unittest import mock

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from graphrag_litex_spark import datagen

WIDE_VOCAB = 1_000_000
WIDE_HEAD = 2_000
WIDE_UNIFORM = 0.5  # share of wide entity picks that are uniform over WIDE_VOCAB

_SYL = [
    "ka", "lo", "mi", "ru", "ten", "vor", "sa", "bel", "dri", "nu", "zan",
    "pe", "quo", "rax", "sil", "tum", "ob", "ly", "fen", "gor", "hal", "jin",
    "kel", "mar", "nel", "pra", "sto", "ul", "vin", "wex", "yor", "zed",
]
_ORG_TAILS = ["Corp", "Inc", "Ltd", "Industries", "Systems", "Labs", "Group", "Holdings"]
_PLACE_TAILS = ["City", "Valley", "Harbor", "Heights"]


def wide_name(i: int) -> str:
    """Canonical surface form of vocabulary entry ``i`` (deterministic).

    A multiplicative hash spreads neighbouring indices over the syllable
    space, so names that share a first token (one linking block) rarely
    share much else and only surface variants of one name link."""
    h = (i * 2654435761) % (1 << 32)
    syl = [_SYL[(h >> (5 * k)) & 31] for k in range(6)]
    first = (syl[0] + syl[1]).capitalize()
    second = (syl[2] + syl[3] + syl[4]).capitalize()
    kind = i % 4
    if kind == 0:
        return f"{first} {second}"
    if kind == 1:
        return f"{first} {second} {_ORG_TAILS[(h >> 30) % len(_ORG_TAILS)]}"
    if kind == 2:
        return f"{first} {_PLACE_TAILS[(h >> 30) % len(_PLACE_TAILS)]}"
    return first + second[:1].upper() + syl[5]  # one CamelCase token: PRODUCT


def pick_wide(rng: np.random.RandomState) -> str:
    """One entity pick over the wide vocabulary: ``WIDE_UNIFORM`` of them
    uniform over ``WIDE_VOCAB``, the rest Zipf(1.3) over the first
    ``WIDE_HEAD`` names; surface variants as datagen draws them."""
    if rng.rand() < WIDE_UNIFORM:
        idx = int(rng.randint(WIDE_VOCAB))
    else:
        idx = (int(rng.zipf(1.3)) - 1) % WIDE_HEAD
    k = int(rng.choice(5, p=[0.55, 0.12, 0.10, 0.10, 0.13]))
    return datagen._variant(wide_name(idx), k)


def transcripts(vocab: str, first_conv: int, n_turns: int, seed: int) -> pa.Table:
    """Whole conversations numbered from ``first_conv`` on until they hold
    at least ``n_turns`` turns, as the pipeline's transcript table, rows
    shuffled by ``seed``. A turn budget rather than a conversation count
    keeps the corpus size nearly independent of the seed, since
    conversation lengths are Zipf-distributed."""
    if vocab not in ("narrow", "wide"):
        raise ValueError(f"unknown vocabulary {vocab!r}")
    pick = datagen._pick_entity if vocab == "narrow" else pick_wide
    rows: list[dict] = []
    c = first_conv
    # datagen draws every entity through its module-level picker.
    with mock.patch.object(datagen, "_pick_entity", pick):
        while len(rows) < n_turns:
            rows.extend(datagen.generate_conversation(c, seed))
            c += 1
    perm = np.random.RandomState(seed).permutation(len(rows))
    rows = [rows[int(i)] for i in perm]
    return pa.table(
        {
            "conv_id": pa.array([r["conv_id"] for r in rows], pa.string()),
            "turn_idx": pa.array([r["turn_idx"] for r in rows], pa.int32()),
            "role": pa.array([r["role"] for r in rows], pa.string()),
            "text": pa.array([r["text"] for r in rows], pa.string()),
            "tool": pa.array([r["tool"] for r in rows], pa.string()),
            "ts": pa.array(
                [datetime.fromtimestamp(r["ts"], tz=timezone.utc) for r in rows],
                pa.timestamp("us", tz="UTC"),
            ),
        }
    )


def write_parquet_dir(table: pa.Table, path: str) -> str:
    """Write ``table`` as a one-file parquet directory."""
    os.makedirs(path, exist_ok=True)
    pq.write_table(table, os.path.join(path, "part-00000.parquet"))
    return path


_WORDS = [
    "data", "table", "query", "stream", "batch", "window", "join", "merge",
    "scan", "sort", "filter", "group", "agg", "key", "value", "row", "column",
    "part", "hash", "spark", "order", "line", "customer", "fast", "slow",
    "small", "big", "vector", "index", "graph", "node", "edge", "model",
] + [a + b for a in _SYL for b in _SYL[:10]]


def documents(n_docs: int, seed: int) -> pa.Table:
    """(doc_id, text, lang, source, n_chars): Zipf bag-of-words documents
    with every tenth document a near-copy of an earlier one, so the minhash
    and n-gram leaves find duplicates."""
    rng = np.random.RandomState(seed)
    texts: list[str] = []
    for d in range(n_docs):
        if d % 10 == 7 and d > 10:
            base = texts[int(rng.randint(d - 1))].split(" ")
            base[int(rng.randint(len(base)))] = _WORDS[int(rng.randint(len(_WORDS)))]
            texts.append(" ".join(base))
        else:
            n = 20 + int(rng.randint(60))
            picks = (rng.zipf(1.2, size=n) - 1) % len(_WORDS)
            texts.append(" ".join(_WORDS[int(w)] for w in picks))
    return pa.table(
        {
            "doc_id": pa.array(range(n_docs), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(["en"] * n_docs, pa.string()),
            "source": pa.array([f"src{d % 7}" for d in range(n_docs)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def events(n_events: int, seed: int) -> pa.Table:
    """(event_id, ts, user_id, event_type, value, props) click/purchase log."""
    rng = np.random.RandomState(seed + 1)
    ts0 = int(datagen._EPOCH * 1_000_000)
    steps = rng.randint(1, 90_000_000, size=n_events).cumsum()
    kinds = np.array(["view", "click", "purchase", "search"])
    return pa.table(
        {
            "event_id": pa.array(range(n_events), pa.int64()),
            "ts": pa.array((ts0 + steps).tolist(), pa.timestamp("us")),
            "user_id": pa.array(rng.randint(0, max(1, n_events // 20), size=n_events), pa.int64()),
            "event_type": pa.array(kinds[rng.randint(0, 4, size=n_events)].tolist(), pa.string()),
            "value": pa.array(np.round(rng.rand(n_events) * 100, 2), pa.float64()),
            "props": pa.array(["{}"] * n_events, pa.string()),
        }
    )

