"""Smoke tests for the benchmark's own code, at tiny size.

    python3 -m pytest perfbench/test_smoke.py -q

The two Spark tests start a local session; the traced run takes about a
minute and a half.
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import gen  # noqa: E402
import run  # noqa: E402


def test_generator_is_deterministic_per_seed():
    for vocab in ("narrow", "wide"):
        a = gen.transcripts(vocab, 0, 100, seed=3)
        assert a.num_rows >= 100
        assert a.equals(gen.transcripts(vocab, 0, 100, seed=3))
        assert not a.equals(gen.transcripts(vocab, 0, 100, seed=4))
    for make in (gen.documents, gen.events):
        assert make(50, 3).equals(make(50, 3))
        assert not make(50, 3).equals(make(50, 4))


def test_delta_conversations_are_new():
    base = set(gen.transcripts("wide", 0, 100, seed=1).column("conv_id").to_pylist())
    delta = set(gen.transcripts("wide", len(base), 20, seed=1).column("conv_id").to_pylist())
    assert delta and not base & delta


def test_corrupted_triple_fails_the_oracle_check():
    from graphrag_litex_spark.oracle import run_oracle

    golden = run_oracle(gen.transcripts("narrow", 0, 80, seed=2))
    g = golden["golden_triples"].to_pydict()
    triples = list(zip(g["conv_id"], g["turn_idx"], g["subj"], g["pred"], g["obj"], g["strength"]))
    c = golden["golden_canon_map"].to_pydict()
    canon = dict(zip(c["norm_name"], c["canonical"]))
    assert run.oracle_mismatches(triples, canon, golden) == []

    bad = list(triples)
    conv, turn, subj, pred, _obj, strength = bad[0]
    bad[0] = (conv, turn, subj, pred, "not an entity", strength)
    assert run.oracle_mismatches(bad, canon, golden)
    assert run.oracle_mismatches(triples[1:], canon, golden)

    bad_canon = dict(canon)
    bad_canon[next(iter(bad_canon))] = "someone else"
    assert run.oracle_mismatches(triples, bad_canon, golden)


def test_wide_corpus_is_wide_at_bench_size():
    """The wide workload's name graph is two orders of magnitude larger
    than the narrow one's, which is what moves link / cc / communities."""
    from graphrag_litex_spark.oracle import run_oracle

    def n_canonical(workload):
        spec = run.WORKLOADS[workload]
        t = gen.transcripts(spec["vocab"], 0, spec["turns"], 1)
        return len(set(run_oracle(t)["golden_canon_map"].column("canonical").to_pylist()))

    assert n_canonical("wide_build") >= 50 * n_canonical("narrow_build")


def test_span_job_ranges_are_exact(tmp_path):
    """Each job is counted once, in the span that submitted it: the spans'
    jobs add up to every job run, main-thread spans own exactly their job
    group's jobs, and jobs from pool threads (no inherited job group) land
    in the span that started the threads."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark.sql import functions as F

    from graphrag_litex_spark.session import get_spark
    from spans import Tracer

    run.pin_environment(str(tmp_path))
    spark = get_spark(app_name="perfbench_smoke", cores=2)
    sc = spark.sparkContext
    try:
        tracer = Tracer(spark, True)
        start = tracer.next_job()
        with tracer.span("outer", "outer"):
            for i in range(3):
                sc.setJobGroup(f"g{i}", f"g{i}")
                with tracer.span("inner", f"g{i}"):
                    spark.range(1000 * (i + 1)).groupBy(F.col("id") % 7).count().collect()
            sc.setJobGroup("pool", "pool")
            with tracer.span("inner", "pool"):
                with ThreadPoolExecutor(2) as ex:
                    list(ex.map(lambda n: spark.range(n).count(), [10, 20, 30]))
        spans = {s["name"]: s for s in tracer.finish()}
        total = tracer.next_job() - start
        assert sum(s["jobs"] for s in spans.values()) == total
        assert spans["outer"]["jobs"] == 0 and spans["pool"]["jobs"] >= 3
        for i in range(3):
            s = spans[f"g{i}"]
            group = sorted(sc.statusTracker().getJobIdsForGroup(f"g{i}"))
            assert group == list(range(s["job0"], s["job1"])) and group
    finally:
        spark.stop()


def test_traced_run_gives_every_layer_a_span(monkeypatch, capsys):
    monkeypatch.setitem(run.WORKLOADS, "narrow_build", {"vocab": "narrow", "turns": 300})
    code = run.main(["--workload", "narrow_build", "--seed", "5", "--seconds", "0", "--trace", "1"])
    result = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert code == 0 and result["correct"] and result["failed"] == 0
    m = {k: v["value"] for k, v in result["metrics"].items()}
    for layer in run.LAYERS:
        assert m[f"{layer}.wall_s"] > 0, layer
        assert m[f"{layer}.jobs"] >= 1, layer
    for leaf in run.LEAVES:
        assert m[f"leaf.{leaf}_s"] > 0
