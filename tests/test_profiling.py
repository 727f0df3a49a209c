"""Key-skew profiling: hand-computed shares and salt suggestions."""

from pyspark.sql import functions as F

from graphrag_litex_spark.operators.profiling import key_skew_profile


def test_key_skew_profile_hand_computed(spark):
    # 100 rows: 'hot' 60, 'warm' 30, 'cold' 10.
    rows = [("hot",)] * 60 + [("warm",)] * 30 + [("cold",)] * 10
    df = spark.createDataFrame(rows, "k string")
    got = {r["key"]: r.asDict() for r in key_skew_profile(df, "k", target_partitions=10).collect()}
    # salt = ceil(n * P / total), integer-exact: hot 60*10/100 = 6.
    assert got["hot"]["n"] == 60 and got["hot"]["share"] == 0.6
    assert got["hot"]["suggested_salt"] == 6
    assert got["warm"]["suggested_salt"] == 3
    # cold: exactly average load -> 1 bucket (no salting needed).
    assert got["cold"]["suggested_salt"] == 1


def test_key_skew_profile_top_n_cut_is_deterministic(spark):
    # Ties in n break by key value, so top_n slices identically every run.
    rows = [(f"k{i % 7}",) for i in range(70)]
    df = spark.createDataFrame(rows, "k string").repartition(8)
    a = [r["key"] for r in key_skew_profile(df, "k", top_n=3).collect()]
    b = [r["key"] for r in key_skew_profile(df.repartition(3), "k", top_n=3).collect()]
    assert a == b == ["k0", "k1", "k2"]


def test_key_skew_profile_ceiling_rounds_up(spark):
    # 7 of 13 rows at P=4: ceil(28/13) = 3 (floor would say 2).
    rows = [("x",)] * 7 + [(f"y{i}",) for i in range(6)]
    df = spark.createDataFrame(rows, "k string")
    top = key_skew_profile(df, "k", top_n=1, target_partitions=4).first()
    assert top["key"] == "x" and top["suggested_salt"] == 3


def test_key_skew_profile_single_scan_and_release(spark):
    """The per-key aggregate is checkpointed eagerly so the grand-total and
    per-key branches of the cross join share ONE full-data pass (ADVICE r4);
    the returned frame carries the checkpoint handle (a one-element tuple)
    for release()."""
    from graphrag_litex_spark.operators.iterutils import release

    rows = [("a",)] * 5 + [("b",)] * 3
    prof = key_skew_profile(spark.createDataFrame(rows, "k string"), "k")
    assert len(prof._graft_ckpt) == 1  # the aggregate's checkpoint
    got = {r["key"]: r["n"] for r in prof.collect()}
    assert got == {"a": 5, "b": 3}
    release(prof)  # frees the cached aggregate; frame already consumed
