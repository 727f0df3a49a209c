"""Distributed byte-level BPE: corpus-trained merge table + merged-token
windows (closes the B1/H6 tiktoken divergence at full fidelity).

Reference counts chunk windows in tiktoken cl100k_base tokens
(extraction/text_chunker.py:64,81). tiktoken's merge table isn't shipped
here, so this module trains one ON the corpus and runs the same byte-level
merge algorithm — window math in true subword units, not pretokens.

Scale shape (the part that must survive 100 TB):

* pretoken counting is ONE map-side-combined shuffle whose output is the
  DISTINCT-pretoken vocabulary with counts — bounded by language, not by
  corpus size (Heaps' law: ~10^6-10^7 rows at web scale, KBs per row);
* a top-``max_vocab`` valve (count desc, pretoken asc — deterministic)
  bounds the driver collect regardless of corpus pathology; dropping the
  long tail of singleton pretokens does not move merge ranks, which are
  dominated by high-frequency pairs;
* the merge loop itself is driver-side over that bounded table — the same
  design as production tokenizer trainers (HF tokenizers, SentencePiece),
  which train on word counts, never on the raw corpus;
* encoding is an Arrow-batched pandas UDF with a per-worker LRU cache
  keyed by pretoken (Zipf: the hot cache serves almost every token), and
  the merge table rides the closure (KBs — broadcast by Spark once per
  executor, not per task).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from graphrag_litex_spark.functions.bpe import (
    encode_text,
    make_encoder,
    train_bpe,
)
from graphrag_litex_spark.operators.chunking import chunk_documents_windowed, chunk_windows
from graphrag_litex_spark.operators.text_analysis import BPE_PRETOKEN_RE


def _pretokenize(text: str) -> list[str]:
    import regex

    return regex.findall(BPE_PRETOKEN_RE, text or "")


def pretoken_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """(pretoken, count) over the corpus — fully JVM-side (the pretokenizer
    pattern is lookahead-free, so Java regexp_extract_all and the Python
    ``regex`` module produce identical token streams; asserted in tests)."""
    return (
        df.select(
            F.explode(
                F.regexp_extract_all(F.col(text_col), F.lit(BPE_PRETOKEN_RE), 0)
            ).alias("pretoken")
        )
        .groupBy("pretoken")
        .agg(F.count("*").alias("count"))
    )


def train_bpe_merges(
    df: DataFrame,
    text_col: str = "text",
    n_merges: int = 512,
    max_vocab: int = 100_000,
) -> list[tuple[str, str]]:
    """Corpus -> deterministic merge table (rank-ordered latin-1 pairs)."""
    rows = (
        pretoken_counts(df, text_col)
        .orderBy(F.col("count").desc(), F.col("pretoken").asc())
        .limit(max_vocab)
        .collect()
    )
    return train_bpe([(r["pretoken"], r["count"]) for r in rows], n_merges)


def _merged_tokenizer(merges: list[tuple[str, str]]):
    """text -> merged byte tokens (latin-1 strings), for a UDF closure.

    Lazy per-worker init: the closure dict is deserialized once per worker
    process, so the encoder (ranks dict + its pretoken LRU) is built on
    the first Arrow batch and REUSED across batches — rebuilding it per
    batch would throw the hot-pretoken cache away every ~10k rows."""
    _state: dict = {}

    def tokenize(text: str) -> list[str]:
        if "enc" not in _state:
            _state["enc"] = make_encoder(merges)
        return encode_text(text, _state["enc"], _pretokenize)

    return tokenize


def bpe_tokenize(
    df: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    tokens_col: str = "bpe_tokens",
) -> DataFrame:
    """Adds ``tokens_col`` (array of merged byte tokens, latin-1 strings)
    and ``<tokens_col>_count``. Lossless per row:
    ``concat(tokens).encode("latin-1") == text.encode("utf-8")``."""
    tokenize = _merged_tokenizer(merges)

    @F.pandas_udf(T.ArrayType(T.StringType()))
    def enc(texts: pd.Series) -> pd.Series:
        return texts.map(tokenize)

    return df.withColumn(tokens_col, enc(F.col(text_col))).withColumn(
        f"{tokens_col}_count", F.size(tokens_col)
    )


def _decode_span(toks: list[str]) -> str:
    """A merged-token window -> its decoded byte span. Byte-exact except
    where a window boundary splits a multi-byte UTF-8 char (a property
    shared with tiktoken slice-decoding; replacement chars appear only at
    such cuts)."""
    return "".join(toks).encode("latin-1").decode("utf-8", errors="replace")


def chunk_windows_bpe(
    text: str,
    encode_word,
    chunk_size: int = 600,
    overlap: int = 100,
) -> list[str]:
    """B1 window kernel in MERGED-token units: chunking.chunk_windows
    (reference text_chunker.py:54-115 semantics: overlap clamp at :63,
    single chunk when the document fits :89-92, Q1 tail fix) over the
    merged tokens, each chunk the decoded byte span of its window."""
    return chunk_windows(
        text, chunk_size, overlap,
        lambda t: encode_text(t, encode_word, _pretokenize), _decode_span,
    )


def chunk_documents_bpe(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_size: int = 600,
    overlap: int = 100,
) -> DataFrame:
    """docs -> (source_id, n, chunk_id, text): one row per merged-token
    window (:func:`chunk_windows_bpe`); same output shape as
    chunking.chunk_documents_windowed."""
    return chunk_documents_windowed(
        docs, id_col, text_col, chunk_size, overlap,
        tokenizer=_merged_tokenizer(merges), joiner=_decode_span,
    )
