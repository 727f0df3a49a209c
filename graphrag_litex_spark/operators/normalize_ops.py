"""H2: entity-name normalization as native Catalyst expressions.

The reference normalizes with NFKD -> ASCII-fold -> lower -> non-alnum ->
space -> strip (/root/reference/extraction/entity_resolver.py:14-20). NFKD
needs Python in general, but the hot path must stay JVM-side (north rule:
zero per-row Python), so normalization is a pure-column expression:

    lower() -> translate(<Latin accent fold table>) -> regexp_replace -> trim

which matches the Python normalizer byte-for-byte on all Latin-script input
(tested against functions/normalize.py on the corpus vocabulary plus a
Latin-1 sweep in tests/test_normalize.py). For non-Latin scripts the exact
NFKD implementation is the Python normalizer itself
(functions/normalize.normalize_name).

Known divergence (documented): characters that NFKD cannot decompose to
ASCII (e.g. ``æ``) are *deleted* by the Python path but become a token break
in the SQL path; neither occurs in Latin business text.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Lowercase Latin accent fold (applied after lower()); 1:1 so translate()
# works. Derived at import time from NFKD itself so the SQL path provably
# mirrors the Python path for every 1:1-decomposable code point in the
# Latin-1 Supplement + Latin Extended-A/B ranges.
def _build_fold_table() -> tuple[str, str]:
    import unicodedata as _ud

    src, dst = [], []
    for cp in range(0x00C0, 0x0250):
        c = chr(cp).lower()
        if len(c) != 1:  # e.g. 'İ'.lower() -> 'i̇' (two code points)
            continue
        folded = _ud.normalize("NFKD", c).encode("ascii", "ignore").decode("ascii")
        if len(folded) == 1 and folded.isalnum() and c not in src:
            src.append(c)
            dst.append(folded)
    return "".join(src), "".join(dst)


_ACCENT_SRC, _ACCENT_DST = _build_fold_table()


def norm_name_col(col: Column | str) -> Column:
    """Catalyst-native equivalent of functions.normalize.normalize_name."""
    c = F.col(col) if isinstance(col, str) else col
    c = F.lower(c)
    c = F.translate(c, _ACCENT_SRC, _ACCENT_DST)
    c = F.regexp_replace(c, r"[^a-z0-9]+", " ")
    return F.trim(c)


def char_ngrams_col(col: Column | str, n: int = 3) -> Column:
    """Distinct character n-grams of a string column as array<string>.

    Matches functions.normalize.char_ngrams (whole string when len < n).
    Pure Catalyst: sequence + transform + array_distinct (codegen'd).
    """
    c = F.col(col) if isinstance(col, str) else col
    grams = F.transform(
        F.sequence(F.lit(0), F.length(c) - n),
        lambda i: c.substr(i + 1, F.lit(n)),
    )
    return F.when(F.length(c) < n, F.array(c)).otherwise(F.array_distinct(grams))


def jaccard_col(a: Column, b: Column) -> Column:
    """Jaccard similarity of two array<string> gram columns (JVM-side)."""
    inter = F.size(F.array_intersect(a, b))
    union = F.size(F.array_union(a, b))
    return F.when(union == 0, F.lit(1.0)).otherwise(inter / union)
