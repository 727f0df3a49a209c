"""B1: token-window document chunker (reference extraction/text_chunker.py).

Reference semantics (text_chunker.py:54-115): sliding windows of
``chunk_size`` tokens with ``chunk_overlap`` overlap, overlap clamped to
<= chunk_size // 2 (:63), deterministic chunk ids ``{source_id}_{n}`` (:92,
:107), single chunk when the document fits (:89-92). One deliberate fix
(SURVEY.md Appendix Q1): the reference's loop break at :114-115 silently
drops up to ``chunk_size - overlap`` trailing tokens; here the final partial
window is always emitted, so every token is covered by >= 1 chunk.

Tokenizer: whitespace tokens stand in for the reference's tiktoken
cl100k_base (not available here); the tokenizer is a pluggable ``str ->
list[str]`` and chunk text is the space-join of its window (documented
divergence: original inter-token whitespace is not preserved).

Execution shape (SURVEY.md §2 B2 "parallel doc chunking"): one Arrow-batched
pandas UDF computes each document's chunk list (C-speed string ops, no
per-row Python round trips), then ``posexplode`` fans chunks out as rows —
so a 1M-document corpus chunks with zero driver involvement and the fan-out
stays JVM-side.
"""

from __future__ import annotations

from collections.abc import Callable

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def bpe_pretokenizer() -> Callable[[str], list[str]]:
    """Subword-ish tokenizer for the B1 window math: the GPT-2-style BPE
    pretokenizer regex (shared with operators/text_analysis.BPE_PRETOKEN_RE,
    so Spark-side counting and this chunker agree on the token stream).
    Stands in for the reference's tiktoken cl100k_base windows
    (extraction/text_chunker.py:64,81,91,101) at the PRETOKEN granularity —
    the units BPE merges operate within. For windows in fully MERGED
    subword units, see operators/bpe_ops.chunk_documents_bpe (corpus-
    trained merge table). Tokens carry their leading whitespace, so joining windows with
    ``joiner=""`` reconstructs the original text span byte-for-byte
    (unlike the whitespace tokenizer, which normalizes runs of spaces)."""
    import regex  # third-party: supports \p{L}/\p{N} like Java/RE2  # noqa: F401

    def tokenize(text: str) -> list[str]:
        # self-contained (imports inside) so the closure pickles into the
        # chunking UDF without dragging a compiled-pattern object along;
        # the regex module caches the compiled pattern per process.
        import regex

        from graphrag_litex_spark.operators.text_analysis import BPE_PRETOKEN_RE

        return regex.findall(BPE_PRETOKEN_RE, text or "")

    return tokenize


def chunk_windows(
    text: str,
    chunk_size: int = 600,
    overlap: int = 100,
    tokenizer: Callable[[str], list[str]] | None = None,
    joiner: str | Callable[[list[str]], str] = " ",
) -> list[str]:
    """Pure chunking kernel -> ordered chunk texts (chunk n = index n).

    Mirrors TextChunker.chunk_text with the Q1 tail fix; shared by the UDF
    and the unit tests/oracle. ``joiner`` glues a window's tokens back into
    chunk text: " " for bare-word tokenizers, "" for tokenizers whose
    tokens carry their own whitespace (bpe_pretokenizer), or a function of
    the window's tokens (bpe_ops decodes a merged-token window's bytes).
    """
    toks = tokenizer(text) if tokenizer else (text or "").split()
    n = len(toks)
    if n == 0:
        return []
    glue = joiner if callable(joiner) else joiner.join
    overlap = min(overlap, chunk_size // 2)  # text_chunker.py:63
    if n <= chunk_size:
        return [glue(toks)]
    out = []
    start = 0
    while start < n:
        end = min(start + chunk_size, n)
        out.append(glue(toks[start:end]))
        if end >= n:  # Q1 fix: emit the final partial window, then stop
            break
        start = end - overlap
    return out


def chunk_documents_windowed(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_size: int = 600,
    overlap: int = 100,
    tokenizer: Callable[[str], list[str]] | None = None,
    joiner: str | Callable[[list[str]], str] = " ",
) -> DataFrame:
    """docs -> (source_id, n, chunk_id, text): one row per token window."""

    @F.pandas_udf(T.ArrayType(T.StringType()))
    def chunk_udf(texts: pd.Series) -> pd.Series:
        return texts.map(
            lambda t: chunk_windows(t, chunk_size, overlap, tokenizer, joiner)
        )

    return (
        docs.select(
            F.col(id_col).cast("string").alias("source_id"),
            F.posexplode(chunk_udf(F.col(text_col))).alias("n", "chunk"),
        )
        .select(
            "source_id",
            "n",
            F.concat_ws("_", "source_id", "n").alias("chunk_id"),
            F.col("chunk").alias("text"),
        )
    )


def chunked_documents_as_transcripts(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_size: int = 600,
    overlap: int = 100,
) -> DataFrame:
    """Document corpus -> transcripts schema at CHUNK grain (conv_id =
    doc id, turn_idx = window index), so multi-page documents enter the KG
    pipeline as bounded chunks instead of one giant turn (the failure mode
    of whole-file ingestion: extraction quality and UDF batch memory)."""
    ch = chunk_documents_windowed(docs, id_col, text_col, chunk_size, overlap)
    return ch.select(
        F.col("source_id").alias("conv_id"),
        F.col("n").cast("int").alias("turn_idx"),
        F.lit("user").alias("role"),
        F.col("text").cast("string").alias("text"),
        F.lit(None).cast("string").alias("tool"),
        F.lit(None).cast("timestamp").alias("ts"),
    )
