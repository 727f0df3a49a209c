"""Deterministic rule-based entity / relationship / claim extractor.

This is the engine's default, pluggable extractor (SURVEY.md §7 "Hard parts"
#1): the reference defines extraction by LLM output
(/root/reference/extraction/simple_entity_extractor.py:47-90 builds a JSON
prompt and parses ``{"entities": [{name,type,description}], "relationships":
[{source,target,description,strength}]}``); this sandbox has no LLM, so the
default extractor is a deterministic rule-based information extractor with
the SAME output shape (simple_entity_extractor.py:156-163), and the
single-process run of this exact function over the corpus IS the golden
oracle the distributed pipeline is gated against (P/R >= 0.95).

Semantics preserved from the reference:
  * relationships only between entities found in the SAME chunk — here the
    rule is stricter (same sentence), trivially satisfying the reference's
    same-chunk constraint (simple_entity_extractor.py:205-208, SURVEY Q7);
  * entity names are used as temporary ids until resolution
    (simple_entity_extractor.py:210-211);
  * claims reference the entity names found in their chunk
    (/root/reference/extraction/simple_claim_extractor.py:44-94).

The function is PURE (no I/O, no randomness) so it can be wrapped in an
Arrow-batched mapInArrow kernel (operators/extraction.py) with bit-identical output.
"""

from __future__ import annotations

import re

# Known relation predicates -> extraction strength (the reference's LLM emits
# strength in [0,1], /root/reference/models/relationship.py:17-24; the graph
# builder later drops strength < 0.5, simple_graph_builder.py:83-86 — the two
# final predicates here exist to exercise that filter).
PREDICATES: dict[str, float] = {
    "works at": 0.9,
    "acquired": 0.95,
    "partners with": 0.85,
    "invested in": 0.8,
    "founded": 0.9,
    "leads": 0.8,
    "develops": 0.75,
    "uses": 0.7,
    "reports to": 0.65,
    "competes with": 0.6,
    "located in": 0.55,
    "supplies": 0.7,
    "sued": 0.5,
    "visited": 0.4,
    "mentioned": 0.3,
}

# Claim-sentence tails: a sentence "<ENTITY...> <tail>." is a claim about the
# entities mentioned in it (reference analog: simple_claim_extractor.py
# prompt at :136-169 asks for factual claims about known entities).
CLAIM_TAILS: frozenset[str] = frozenset(
    {
        "reported strong quarterly results",
        "missed its earnings expectations",
        "announced a new strategic initiative",
        "faces regulatory scrutiny",
        "plans to expand internationally",
        "recalled a defective product line",
        "won an industry award",
        "is hiring aggressively",
    }
)

ORG_SUFFIXES: frozenset[str] = frozenset(
    {
        "corp",
        "corporation",
        "inc",
        "incorporated",
        "ltd",
        "limited",
        "industries",
        "enterprises",
        "systems",
        "labs",
        "group",
        "bank",
        "holdings",
        "partners",
    }
)

PLACE_SUFFIXES: frozenset[str] = frozenset({"city", "valley", "harbor", "heights"})

_SENT_SPLIT = re.compile(r"[.!?]+")
_TOKEN = re.compile(r"[A-Za-z0-9À-ÖØ-öø-ÿ'&-]+")
_WS = re.compile(r"\s+")
_NON_ALNUM_LOWER = re.compile(r"[^a-z0-9]+")

# Fast path: one regex finds each maximal run of capitalized tokens directly.
# A token is capitalized iff its first char is uppercase; within the token
# alphabet [A-Za-z0-9À-ÖØ-öø-ÿ'&-] the uppercase members are exactly
# [A-ZÀ-ÖØ-Þ] (Latin-1: C0-D6 and D8-DE are upper; ß and E0-FF are lower),
# so this match is PROVABLY identical to the token-loop run grouping for
# every input — asserted against the loop implementation in
# tests/test_extractor.py over the corpus + adversarial strings.
_CAP_TOK = r"[A-ZÀ-ÖØ-Þ][A-Za-z0-9À-ÖØ-öø-ÿ'&-]*"
_RUN = re.compile(
    rf"(?<![A-Za-z0-9À-ÖØ-öø-ÿ'&-]){_CAP_TOK}(?:[^A-Za-z0-9À-ÖØ-öø-ÿ'&-]+{_CAP_TOK})*"
)

MAX_DESCRIPTION_LEN = 200


def _is_cap(tok: str) -> bool:
    return bool(tok) and tok[0].isupper()


def _entity_type(tokens: list[str]) -> str:
    last = tokens[-1].lower()
    if last in ORG_SUFFIXES:
        return "ORGANIZATION"
    if last in PLACE_SUFFIXES:
        return "LOCATION"
    if len(tokens) == 1:
        t = tokens[0]
        if any(c.isupper() for c in t[1:]):
            return "PRODUCT"
        return "CONCEPT"
    return "PERSON"


def _between_pred(text: str) -> str:
    """Normalize inter-mention text to a candidate predicate key."""
    return _NON_ALNUM_LOWER.sub(" ", text.lower()).strip()


# Memo caches for the hot path: mention surfaces and between-texts are
# Zipf-distributed in real corpora, so both hit constantly. Pure-function
# memoization only (same key -> same value); bounded so adversarial input
# can't grow them without limit (workers are long-lived under reuse).
_MEMO_CAP = 262_144
_type_memo: dict[str, str] = {}
_pred_memo: dict[str, tuple[str, float] | None] = {}
_tail_memo: dict[str, bool] = {}


def _surface_type(surface: str) -> str:
    t = _type_memo.get(surface)
    if t is None:
        if len(_type_memo) >= _MEMO_CAP:
            _type_memo.clear()
        t = _type_memo[surface] = _entity_type(_TOKEN.findall(surface))
    return t


def _pred_strength(between: str) -> tuple[str, float] | None:
    """(normalized predicate, strength) if the inter-mention text is a known
    predicate, else None — memoized on the RAW between-text."""
    hit = _pred_memo.get(between, 0)  # 0 sentinel: absent (None is a value)
    if hit != 0:  # cached tuple or cached None
        return hit
    pred = _between_pred(between)
    strength = PREDICATES.get(pred)
    val = (pred, strength) if strength is not None else None
    if len(_pred_memo) >= _MEMO_CAP:
        _pred_memo.clear()
    _pred_memo[between] = val
    return val


def _is_claim_tail(raw_tail: str) -> bool:
    hit = _tail_memo.get(raw_tail)
    if hit is None:
        if len(_tail_memo) >= _MEMO_CAP:
            _tail_memo.clear()
        hit = _tail_memo[raw_tail] = _between_pred(raw_tail) in CLAIM_TAILS
    return hit


def extract_turn_flat(text: str) -> tuple[list, list, list] | None:
    """Hot-path extraction as flat tuples (no per-item dicts):

    -> (entities [(name, type, description)...],
        relationships [(source, target, pred, strength)...],
        claims [(content, sorted entity names)...]) or None when empty.

    Semantically identical to :func:`extract_turn` (which wraps this);
    equivalence vs the token-loop reference implementation is asserted in
    tests/test_extractor.py.
    """
    if not text:
        return None
    entities: list[tuple] = []
    relationships: list[tuple] = []
    claims: list[tuple] = []

    for raw_sentence in _SENT_SPLIT.split(text):
        sentence = _WS.sub(" ", raw_sentence).strip()
        if not sentence:
            continue

        ms = list(_RUN.finditer(sentence))
        if not ms:
            continue

        desc = sentence[:MAX_DESCRIPTION_LEN]
        for m in ms:
            surface = m.group(0)
            entities.append((surface, _surface_type(surface), desc))

        # Relationships: adjacent mention pairs whose inter-text is a known
        # predicate (same-sentence => same-chunk, SURVEY Q7).
        for m1, m2 in zip(ms, ms[1:]):
            ps = _pred_strength(sentence[m1.end() : m2.start()])
            if ps is not None:
                relationships.append((m1.group(0), m2.group(0), ps[0], ps[1]))

        # Claims: sentence tail after the last mention matches a claim tail.
        if _is_claim_tail(sentence[ms[-1].end() :]):
            claims.append((sentence, sorted({m.group(0) for m in ms})))

    if not (entities or relationships or claims):
        return None
    return entities, relationships, claims


def extract_turn(text: str) -> dict:
    """Extract entities, relationships and claims from one turn's text.

    Returns ``{"entities": [{"name","type","description"}...],
    "relationships": [{"source","target","description","strength"}...],
    "claims": [{"content","entities": [...]}...]}`` — the reference's
    extraction shape (simple_entity_extractor.py:156-163,
    simple_claim_extractor.py:171-207). Thin dict-shaped wrapper over
    :func:`extract_turn_flat` (the Arrow hot path uses the flat form).
    """
    flat = extract_turn_flat(text)
    if flat is None:
        return {"entities": [], "relationships": [], "claims": []}
    ents, rels, clms = flat
    return {
        "entities": [{"name": n, "type": t, "description": d} for n, t, d in ents],
        "relationships": [
            {"source": s, "target": o, "description": p, "strength": st}
            for s, o, p, st in rels
        ],
        "claims": [{"content": c, "entities": e} for c, e in clms],
    }


def _extract_turn_ref(text: str) -> dict:
    """Token-loop formulation of :func:`extract_turn` — the original
    definition, kept as the equivalence-test reference implementation."""
    entities: list[dict] = []
    relationships: list[dict] = []
    claims: list[dict] = []
    if not text:
        return {"entities": entities, "relationships": relationships, "claims": claims}

    for raw_sentence in _SENT_SPLIT.split(text):
        sentence = _WS.sub(" ", raw_sentence).strip()
        if not sentence:
            continue

        # Mention detection: maximal runs of capitalized tokens.
        toks = list(_TOKEN.finditer(sentence))
        mentions: list[tuple[str, list[str], int, int]] = []  # surface, toks, start, end
        run: list[re.Match] = []
        for m in toks + [None]:
            if m is not None and _is_cap(m.group(0)):
                run.append(m)
                continue
            if run:
                start, end = run[0].start(), run[-1].end()
                surface = sentence[start:end]
                mentions.append((surface, [r.group(0) for r in run], start, end))
                run = []

        if not mentions:
            continue

        desc = sentence[:MAX_DESCRIPTION_LEN]
        for surface, mtoks, _s, _e in mentions:
            entities.append(
                {
                    "name": surface,
                    "type": _entity_type(mtoks),
                    "description": desc,
                }
            )

        for (s1, _t1, _a1, e1), (s2, _t2, a2, _e2) in zip(mentions, mentions[1:]):
            pred = _between_pred(sentence[e1:a2])
            strength = PREDICATES.get(pred)
            if strength is not None:
                relationships.append(
                    {
                        "source": s1,
                        "target": s2,
                        "description": pred,
                        "strength": strength,
                    }
                )

        tail = _between_pred(sentence[mentions[-1][3] :])
        if tail in CLAIM_TAILS:
            claims.append(
                {
                    "content": sentence,
                    "entities": sorted({m[0] for m in mentions}),
                }
            )

    return {"entities": entities, "relationships": relationships, "claims": claims}
