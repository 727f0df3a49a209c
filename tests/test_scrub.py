"""Unit tests for PII redaction, boilerplate detection/removal, repetition."""

from __future__ import annotations

import pytest

from graphrag_litex_spark.operators.scrub import (
    boilerplate_segments,
    pii_scrub,
    repetition_stats,
    strip_boilerplate,
)


@pytest.fixture(scope="module")
def pii_docs(spark):
    rows = [
        (1, "mail me at alice.smith+x@corp-mail.example.org today"),
        (2, "card 4111 1111-1111 1111 and ssn 123-45-6789"),
        (3, "call 555-867-5309 or ping 10.0.255.3 now"),
        (4, "no pii here at all"),
        (5, ""),
    ]
    return spark.createDataFrame(rows, "doc_id int, text string")


def test_pii_counts_and_redaction(pii_docs):
    got = {r["doc_id"]: r for r in pii_scrub(pii_docs).collect()}
    assert got[1]["n_email"] == 1 and got[1]["n_pii"] == 1
    assert got[1]["text_redacted"] == "mail me at <EMAIL> today"
    assert got[2]["n_cc"] == 1 and got[2]["n_ssn"] == 1
    assert got[2]["text_redacted"] == "card <CC> and ssn <SSN>"
    assert got[3]["n_phone"] == 1 and got[3]["n_ipv4"] == 1
    assert got[3]["text_redacted"] == "call <PHONE> or ping <IPV4> now"
    assert got[4]["n_pii"] == 0 and got[4]["text_redacted"] == "no pii here at all"
    assert got[5]["n_pii"] == 0 and got[5]["text_redacted"] == ""


def test_pii_order_cc_before_phoneish(spark):
    # a cc-shaped string contains phone-shaped substrings; cc must win
    df = spark.createDataFrame([(1, "1234-5678-9012-3456")], "doc_id int, text string")
    r = pii_scrub(df).collect()[0]
    assert r["text_redacted"] == "<CC>" and r["n_cc"] == 1


@pytest.fixture(scope="module")
def boiler_docs(spark):
    footer = "Click here to unsubscribe."
    rows = [
        (1, f"Alpha beta gamma. {footer}"),
        (2, f"Delta epsilon! {footer} Zeta eta."),
        (3, f"{footer} Theta iota?"),
        (4, "Unique text only. Another unique line."),
        (5, footer),  # the whole doc is boilerplate
    ]
    return spark.createDataFrame(rows, "doc_id int, text string")


def test_boilerplate_detection(boiler_docs):
    found = boilerplate_segments(boiler_docs, min_doc_frac=0.5, min_docs=2).collect()
    assert {(r["segment"], r["n_docs"]) for r in found} == {
        ("Click here to unsubscribe", 4)
    }


def test_strip_boilerplate(boiler_docs):
    bl = boilerplate_segments(boiler_docs, min_doc_frac=0.5, min_docs=2)
    out = {r["doc_id"]: r["text"] for r in strip_boilerplate(boiler_docs, bl).collect()}
    assert out[1] == "Alpha beta gamma"
    assert out[2] == "Delta epsilon. Zeta eta"  # order + multiplicity preserved
    assert out[3] == "Theta iota"
    assert out[4] == "Unique text only. Another unique line"
    assert out[5] == ""  # fully-boilerplate doc survives with empty text
    assert len(out) == 5  # no docs dropped


def test_repetition_stats(spark):
    rows = [
        (1, "a a a b. a a a b."),     # heavy repetition, duplicate segment
        (2, "one two three four."),   # no repetition
        (3, ""),                      # empty -> all zeros
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    got = {r["id"]: r for r in repetition_stats(df).collect()}
    # doc 1: words = [a x6, b x2] -> n=8, distinct=2; top a=6/8
    assert got[1]["n_words"] == 8
    assert got[1]["dup_word_frac"] == pytest.approx(6 / 8)
    assert got[1]["top_word_frac"] == pytest.approx(6 / 8)
    assert got[1]["dup_segment_frac"] == pytest.approx(0.5)  # 2 segs, 1 distinct
    assert got[2]["dup_word_frac"] == 0.0
    assert got[2]["top_word_frac"] == pytest.approx(0.25)
    assert got[3]["n_words"] == 0 and got[3]["top_word_frac"] == 0.0


def test_null_text_contract(spark):
    """Null text flows through every scrub operator without failing:
    redaction passes null through, counts stay 0, fractions stay 0."""
    d = spark.createDataFrame([(1, None), (2, "ok. ok.")], "doc_id int, text string")
    p = {r["doc_id"]: r for r in pii_scrub(d).collect()}
    assert p[1]["text_redacted"] is None and p[1]["n_pii"] == 0
    r = {r["id"]: r for r in repetition_stats(d).collect()}
    assert r[1]["dup_word_frac"] == 0.0 and r[1]["top_word_frac"] == 0.0
    assert r[2]["dup_segment_frac"] == 0.5
    b = boilerplate_segments(d, min_doc_frac=0.0, min_docs=1).collect()
    assert {x["segment"] for x in b} == {"ok"}


def test_boilerplate_segment_length_valve(spark):
    """A giant 'sentence' is dropped before the shuffle, shorter templates
    still detected."""
    big = "x" * 5000
    rows = [(i, f"{big}. shared footer line here.") for i in range(4)]
    d = spark.createDataFrame(rows, "doc_id int, text string")
    found = {r["segment"] for r in
             boilerplate_segments(d, min_doc_frac=0.5, min_docs=2).collect()}
    assert found == {"shared footer line here"}
    # valve off: the giant segment counts too
    found_all = {r["segment"] for r in
                 boilerplate_segments(d, min_doc_frac=0.5, min_docs=2,
                                      max_segment_chars=None).collect()}
    assert found_all == {"shared footer line here", big}


def test_decontaminate_planted_overlap(spark):
    """A test doc copied verbatim into training scores contamination 1.0;
    a partially-copied doc scores in between; a fresh doc scores ~0."""
    from graphrag_litex_spark.operators.scrub import decontaminate

    leaked = "the secret benchmark answer is forty two and the question is unknown"
    half = "the secret benchmark answer is forty two but this tail is entirely different here"
    fresh = "completely unrelated content about distributed query engines and shuffles"
    test = spark.createDataFrame(
        [(1, leaked), (2, half), (3, fresh)], "doc_id long, text string"
    )
    train = spark.createDataFrame(
        [(100, leaked + " with some extra trailing words appended"),
         (101, "another training document about cooking pasta at altitude")],
        "doc_id long, text string",
    )
    got = {r["test_id"]: r for r in decontaminate(test, train).collect()}
    assert got[1]["contamination"] == 1.0 and got[1]["n_train_docs"] == 1
    assert 0.0 < got[2]["contamination"] < 1.0
    assert got[3]["contamination"] < 0.2
    assert got[3]["n_fps"] > 0  # denominator always populated


def test_decontaminate_fp_df_valve(spark):
    """Boilerplate fingerprints above the train doc-frequency cap are
    dropped before the join."""
    from graphrag_litex_spark.operators.scrub import decontaminate

    boiler = "all rights reserved contact support for help"
    test = spark.createDataFrame([(1, boiler)], "doc_id long, text string")
    train = spark.createDataFrame(
        [(i, boiler + f" unique tail {i}") for i in range(10)],
        "doc_id long, text string",
    )
    raw = decontaminate(test, train).collect()[0]
    valved = decontaminate(test, train, max_fp_df=2).collect()[0]
    assert raw["contamination"] > valved["contamination"]


def test_decontaminate_broadcast_test_valve(spark):
    """broadcast_test=True: identical results, and the fp join compiles to
    a BroadcastHashJoin with NO Exchange on the train-fingerprint side
    past the winnow's own doc-keyed shuffle — the 100 TB regime where the
    benchmark suite is megabytes and train is the corpus."""
    from graphrag_litex_spark.operators.scrub import decontaminate

    leaked = "the secret benchmark answer is forty two and the question is unknown"
    test = spark.createDataFrame([(1, leaked)], "doc_id long, text string")
    train = spark.createDataFrame(
        [(100, leaked + " plus a tail"), (101, "unrelated pasta cooking text")],
        "doc_id long, text string",
    )
    base = decontaminate(test, train).collect()
    hinted_df = decontaminate(test, train, broadcast_test=True)
    hinted = hinted_df.collect()
    assert sorted(map(tuple, base)) == sorted(map(tuple, hinted))
    plan = hinted_df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_ngram_repetition_hand_computed(spark):
    """Hand-computed Gopher n-gram fractions: 'a b a b a b c' has
    2-gram 'a b'x3 (9/13 chars), 3-gram tie broken to 'a b a' (10/13),
    4-gram 'a b a b'x2 (14/13 — occurrence-counting may exceed 1), and no
    repeated 5-grams."""
    from graphrag_litex_spark.operators.scrub import ngram_repetition_stats

    df = spark.createDataFrame(
        [
            (1, "a b a b a b c"),
            (2, ""),
            (3, "q q q q q q q q q q"),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r.asDict() for r in ngram_repetition_stats(df).collect()}
    d1 = got[1]
    assert d1["n_chars"] == 13
    assert d1["top2gram_char_frac"] == pytest.approx(round(9 / 13, 6))
    assert d1["top3gram_char_frac"] == pytest.approx(round(10 / 13, 6))
    assert d1["top4gram_char_frac"] == pytest.approx(round(14 / 13, 6))
    assert d1["dup5gram_char_frac"] == 0.0
    # empty text: all-zero row still present
    d2 = got[2]
    assert d2["n_chars"] == 0 and d2["top2gram_char_frac"] == 0.0
    # ten 'q's: 9 'q q' bigrams (27/19); dup-5 = 5 extra occurrences x 9
    # chars (45/19); only one 10-gram -> dup-10 = 0
    d3 = got[3]
    assert d3["top2gram_char_frac"] == pytest.approx(round(27 / 19, 6))
    assert d3["dup5gram_char_frac"] == pytest.approx(round(45 / 19, 6))
    assert d3["dup10gram_char_frac"] == 0.0


def test_ngram_repetition_partitioning_invariant(spark):
    """Fractions are a pure per-document function — repartitioning the
    input cannot move them (the tie-break is deterministic)."""
    from graphrag_litex_spark.operators.scrub import ngram_repetition_stats

    rows = [(i, ("tok%d " % (i % 7)) * (i % 13 + 2) + "end marker") for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    a = {r["doc_id"]: r.asDict() for r in ngram_repetition_stats(df.repartition(1)).collect()}
    b = {r["doc_id"]: r.asDict() for r in ngram_repetition_stats(df.repartition(13)).collect()}
    assert a == b


def test_ngram_plan_is_one_kernel(spark):
    """Normalization is JVM-side; the gram counting is ONE MapInArrow."""
    from conftest import python_nodes
    from graphrag_litex_spark.operators.scrub import ngram_repetition_stats

    df = spark.createDataFrame([(1, "a b a b c")], "doc_id long, text string")
    plan = ngram_repetition_stats(df)._jdf.queryExecution().optimizedPlan()
    assert python_nodes(plan) == ["MapInArrow"]


def test_ngram_engines_agree_on_adversarial_corpus(spark):
    """The Arrow kernel == the contract's DuckDB oracle (the relational
    formulation) on the same frame, including NULL text, empty text,
    unicode junk, whitespace runs, and tie-broken top grams - the
    differential the docstring promises."""
    import duckdb
    import pandas as pd

    from __spark_entry__ import NGRAM_REPETITION_SQL
    from graphrag_litex_spark.operators.scrub import ngram_repetition_stats

    rows = [
        (1, "a b a b a b c"),
        (2, ""),
        (3, None),
        (4, "x"),
        (5, "q q q q q q q q q q q q"),
        (6, "Tabs\tand\nnewlines  spaces"),
        (7, "unicode \u00e9\u00e9 junk   here"),
        (8, "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"),
    ]
    documents = pd.DataFrame(rows, columns=["doc_id", "text"]).astype({"doc_id": "int64"})
    got = [tuple(r) for r in ngram_repetition_stats(spark.createDataFrame(documents)).collect()]
    con = duckdb.connect()
    con.register("documents", documents)
    want = con.execute(NGRAM_REPETITION_SQL).fetchall()
    assert sorted(got) == want
    assert len(got) == len(rows)


def test_norm_text_col_fused_equals_two_pass(spark):
    """The fused single-regex normalizer is input-for-input identical to
    the original two-pass spelling (junk-class replace, then whitespace
    collapse) over adversarial strings."""
    import pandas as pd
    from pyspark.sql import functions as F

    from graphrag_litex_spark.operators.dedup import norm_text_col

    strings = [
        "",
        "   ",
        "a  b\tc\nd",
        "!!!",
        "a!!!b",
        "Hello, World!  123",
        "tab\tseparated\x0bvertical",
        "nbsp\xa0and\u2028line-sep\u2029para",
        "\u00e9\u00df\u0130 mixed \u20ac cases",
        "-leading and trailing-",
        "a" * 500 + "!" + "b" * 500,
    ]
    docs = spark.createDataFrame(pd.DataFrame({"text": strings}))
    two_pass = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower("text"), "[^a-z0-9 ]+", " "), r"\s+", " "
        )
    )
    got = docs.select(
        norm_text_col("text").alias("fused"), two_pass.alias("orig")
    ).collect()
    for r in got:
        assert r["fused"] == r["orig"], (r["fused"], r["orig"])
