"""End-to-end benchmark of the KG-construction engine.

    python3 perfbench/run.py --workload narrow_build --seed 1 --seconds 2 --trace 0

One process, one Spark session on ``local[<cores>]``. A run, on the
workload's seeded inputs:

1. starts the Spark session (JVM launch) -> ``setup_s``;
2. builds the KG once from scratch -> ``cold_build_s`` (pays Python-worker
   start and JIT), and checks triples and canon_map against the
   single-process oracle;
3. builds it again -> ``build_triples_per_s`` (triples-stage rows over the
   steady ``run_pipeline(resume=False)`` time, transcripts to
   summary_embeddings);
4. serves single questions in a closed loop (one client) for ``--seconds``
   (at least MIN_QUERIES; their p50 / p90 latency is reported by traced
   runs), then two 64-question batches -> ``query_batch_s`` (median);
   every single answer must equal the batch answer;
5. runs the operator sweep (``__spark_entry__`` leaves over the built KG
   and seeded document / event tables) -> ``sweep_s``.

``peak_rss_mb`` is the peak summed RSS of this process tree (Python
driver, JVM, Python workers). Stage row counts and triples / canon_map
checksums must repeat between the cold and steady builds. A failed or
wrong operation counts in ``failed``; the run then exits 1.

With ``--trace 1`` the steady build runs with ``concurrent_stages`` off,
so that its manifest stage times give the layers' build shares and the
pipeline's own overhead. The run also builds the KG stage by stage under
spans (see ``spans.py``), splits linking from CC with direct calls, forces
the distributed CC and community loops once (their output must equal the
driver-local one), and refreshes the cold build
(restore, append a ~5% delta of new conversations, resume until
summary_embeddings is fresh; checked against the oracle over base +
delta). It prints the per-layer metrics instead of the end-to-end ones.

The last stdout line is the JSON result; progress goes to stderr, and so
does, in traced runs, ``bench.py``'s host-capacity probe taken before and
after the run (context for reading the layer figures, not a metric).
Everything the run writes stays under ``perfbench/.work``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")

# Per workload: vocabulary and base turns; the refresh appends turns // 20.
WORKLOADS = {
    "narrow_build": {"vocab": "narrow", "turns": 4200},
    "wide_build": {"vocab": "wide", "turns": 5000},
}
N_DOCS, N_EVENTS = 500, 10_000
BATCH_QUESTIONS = 64
MIN_QUERIES = 5
# The driver JVM hosts the local-mode executors. A fixed, pre-touched heap
# keeps its resident size the same from run to run, so peak_rss_mb moves
# with what the program allocates outside that heap.
DRIVER_MEMORY = "1g"
BATCHES = 2
# Sweep leaves: PageRank, minhash dedup, the n-gram Arrow kernel, as-of join.
LEAVES = [
    "kg_entity_rank",
    "dedup_minhash_lsh",
    "ngram_repetition",
    "asof_purchase_click",
]
# The layer of every manifest stage; canon_map is split between link and cc.
STAGE_LAYER = {
    "extractions": "extract",
    "canon_map": "link+cc",
    "nodes": "merge",
    "triples": "merge",  # resolution_join
    "edges": "merge",
    "claims": "merge",
    "communities": "communities",
    "community_stats": "communities",
    "summaries": "communities",
    "summary_embeddings": "answer",
}
# Traced build: each stage is one run(until=...) call; run(until="triples")
# builds nodes, then triples.
BUILD_STAGES = [s for s in STAGE_LAYER if s != "nodes"]
LAYERS = ["extract", "link", "cc", "merge", "communities", "answer", "pipeline", "leaf"]


_T0 = time.perf_counter()


def log(*a) -> None:
    print(f"[{time.perf_counter() - _T0:6.1f}s]", *a, file=sys.stderr, flush=True)


def pin_environment(run_dir: str) -> int:
    """Everything the engine and its workers read from the environment,
    pinned before pyspark is imported. Returns the core count."""
    cores = len(os.sched_getaffinity(0))
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    return cores


def probe() -> float:
    """bench.py's host-capacity probe (numpy matmul), reported as context."""
    import numpy as np

    a = np.random.RandomState(0).rand(3000, 3000)
    t0 = time.perf_counter()
    (a @ a).sum()
    return round(time.perf_counter() - t0, 3)


def _exe(pid: int) -> str | None:
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return None


class RssMonitor:
    """Peak summed RSS of this process and all its descendants."""

    def __init__(self, interval: float = 0.2) -> None:
        self.peak_kb = 0
        self._interval = interval
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _tree_rss_kb(self) -> int:
        parent: dict[int, int] = {}
        for d in os.listdir("/proc"):
            if d.isdigit():
                try:
                    with open(f"/proc/{d}/stat") as f:
                        parent[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
                except (OSError, IndexError, ValueError):
                    continue
        tree, frontier = set(), [os.getpid()]
        while frontier:
            p = frontier.pop()
            tree.add(p)
            frontier.extend(c for c, pp in parent.items() if pp == p and c not in tree)
        total = 0
        for p in tree:
            # A JVM child that has not exec'd yet (the JVM spawning a shell
            # command) still shows the JVM's own pages: counting it would
            # double the JVM for one sample.
            exe = _exe(p)
            if exe and exe.endswith("/java") and exe == _exe(parent.get(p, 0)):
                continue
            try:
                with open(f"/proc/{p}/status") as f:
                    for line in f:
                        if line.startswith("VmRSS:"):
                            total += int(line.split()[1])
                            break
            except OSError:
                continue
        return total

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, self._tree_rss_kb())
            self._stop.wait(self._interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


# ---------------------------------------------------------------- inputs


def questions(vocab: str, seed: int) -> list[str]:
    """BATCH_QUESTIONS seeded alphanumeric questions about the vocabulary's
    head entities (the single- and batch-query paths tokenize those alike)."""
    import numpy as np

    from graphrag_litex_spark import datagen

    import gen

    rng = np.random.RandomState(seed + 7)
    if vocab == "narrow":
        names = list(datagen._POOL)
    else:
        names = [gen.wide_name(i) for i in range(200)]
    preds = ["acquired", "develops", "partners with", "leads", "invested in"]
    out = []
    for _ in range(BATCH_QUESTIONS):
        name = names[int(rng.randint(len(names)))]
        out.append(f"who {preds[int(rng.randint(len(preds)))]} {name}")
    return out


def make_inputs(run_dir: str, spec: dict, seed: int, with_delta: bool) -> dict:
    """Seeded transcripts (base; the refresh delta when ``with_delta``),
    sweep tables and oracle outputs."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from graphrag_litex_spark.oracle import run_oracle

    import gen

    base = gen.transcripts(spec["vocab"], 0, spec["turns"], seed)
    paths = {
        "base": gen.write_parquet_dir(base, os.path.join(run_dir, "in", "base")),
        # __spark_entry__ reads sf from the directory name; this KG is
        # injected into its cache under that sf.
        "sweep": os.path.join(run_dir, "in", "sf0.0002"),
    }
    os.makedirs(paths["sweep"], exist_ok=True)
    pq.write_table(gen.documents(N_DOCS, seed), os.path.join(paths["sweep"], "documents.parquet"))
    pq.write_table(gen.events(N_EVENTS, seed), os.path.join(paths["sweep"], "events.parquet"))
    out = {"paths": paths, "oracle_base": run_oracle(base), "questions": questions(spec["vocab"], seed)}
    if with_delta:
        n_base = len(set(base.column("conv_id").to_pylist()))
        delta = gen.transcripts(spec["vocab"], n_base, spec["turns"] // 20, seed)
        paths["delta"] = gen.write_parquet_dir(delta, os.path.join(run_dir, "in", "delta"))
        out["oracle_all"] = run_oracle(pa.concat_tables([base, delta]))
    return out


# ----------------------------------------------------------------- checks


def triple_key(conv_id, turn_idx, subj, pred, obj, strength) -> tuple:
    return (conv_id, int(turn_idx), subj, pred, obj, round(float(strength), 6))


def oracle_mismatches(triples: list[tuple], canon: dict, golden: dict) -> list[str]:
    """Differences between the engine's triples / canon_map and the oracle's."""
    g = golden["golden_triples"].to_pydict()
    want = sorted(
        triple_key(*r)
        for r in zip(g["conv_id"], g["turn_idx"], g["subj"], g["pred"], g["obj"], g["strength"])
    )
    have = sorted(triple_key(*r) for r in triples)
    out = []
    if have != want:
        extra = len(set(have) - set(want))
        missing = len(set(want) - set(have))
        out.append(f"triples differ: {len(have)} vs {len(want)} rows, {extra} extra, {missing} missing")
    gc = golden["golden_canon_map"].to_pydict()
    want_canon = dict(zip(gc["norm_name"], gc["canonical"]))
    if canon != want_canon:
        bad = sum(1 for k in set(canon) | set(want_canon) if canon.get(k) != want_canon.get(k))
        out.append(f"canon_map differs on {bad} names")
    return out


def check_against_oracle(kg: dict, golden: dict) -> list[str]:
    triples = [
        tuple(r)
        for r in kg["triples"].select("conv_id", "turn_idx", "subj", "pred", "obj", "strength").collect()
    ]
    canon = {r[0]: r[1] for r in kg["canon_map"].select("norm_name", "canonical").collect()}
    return oracle_mismatches(triples, canon, golden)


def build_signature(kg: dict, out_dir: str) -> dict:
    """Stage row counts (parquet footers) plus triples / canon_map checksums;
    two builds of the same input must agree on all of it."""
    from graphrag_litex_spark.plans.pipeline import frame_checksum

    with open(os.path.join(out_dir, "_manifest.json")) as f:
        manifest = json.load(f)
    sig = {k: v["rows"] for k, v in manifest.items() if isinstance(v, dict) and "rows" in v}
    sig["triples_checksum"] = frame_checksum(kg["triples"])
    sig["canon_checksum"] = frame_checksum(kg["canon_map"])
    return sig


def manifest_stats(out_dir: str) -> dict:
    with open(os.path.join(out_dir, "_manifest.json")) as f:
        m = json.load(f)
    return {k: v for k, v in m.items() if isinstance(v, dict) and "sec" in v}


# ------------------------------------------------------------------ run


class Run:
    def __init__(self, spark_factory, inputs: dict, run_dir: str):
        self.spark_factory = spark_factory
        self.inputs = inputs
        self.run_dir = run_dir
        self.attempted = 0
        self.failed = 0
        self.m: dict[str, float] = {}

    def op(self, ok: bool, what: str) -> None:
        """Count one attempted operation; ``what`` is logged if it failed."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            log("FAILED:", what)

    def out(self, name: str) -> str:
        return os.path.join(self.run_dir, name)

    # -- phases --
    def setup(self):
        """Session start: JVM launch and SparkContext. Python workers start
        in the first build, which ``cold_build_s`` times."""
        t0 = time.perf_counter()
        spark = self.spark_factory()
        self.m["setup_s"] = time.perf_counter() - t0
        log(f"setup: {self.m['setup_s']:.2f}s")
        return spark

    def full_build(self, spark, out_dir: str, config=None) -> tuple[dict, float]:
        from graphrag_litex_spark.plans.pipeline import run_pipeline

        shutil.rmtree(out_dir, ignore_errors=True)
        t0 = time.perf_counter()
        kg = run_pipeline(spark, self.inputs["paths"]["base"], out_dir, config, resume=False)
        return kg, time.perf_counter() - t0

    def builds(self, spark, sequential: bool) -> dict:
        """Cold build, then the steady build. ``sequential`` runs the steady
        build with ``concurrent_stages`` off, so that its stages' manifest
        ``sec`` add up to its wall time less the pipeline's scaffolding."""
        from graphrag_litex_spark.plans.pipeline import PipelineConfig

        kg, cold = self.full_build(spark, self.out("kg_cold"))
        self.m["cold_build_s"] = cold
        log(f"cold build: {cold:.2f}s")
        errs = check_against_oracle(kg, self.inputs["oracle_base"])
        self.op(not errs, f"cold build vs oracle: {'; '.join(errs)}")
        ref = build_signature(kg, self.out("kg_cold"))

        config = PipelineConfig(concurrent_stages=False) if sequential else None
        kg, steady = self.full_build(spark, self.out("kg_base"), config)
        log(f"steady build: {steady:.2f}s")
        sig = build_signature(kg, self.out("kg_base"))
        self.op(sig == ref, f"steady build signature differs from cold build: {sig} vs {ref}")
        stats = manifest_stats(self.out("kg_base"))
        self.m["build_triples_per_s"] = stats["triples"]["rows"] / steady
        self.steady_s = steady
        self.steady_stats = stats
        return kg

    def refresh(self, spark, tracer) -> dict:
        """Restore the cold build (untimed), append the delta, resume. The
        cold build ran with the default config, which the input fingerprint
        covers, so the refresh runs with it too."""
        from graphrag_litex_spark.plans.pipeline import KGPipeline

        out_dir = self.out("kg_refresh")
        shutil.rmtree(out_dir, ignore_errors=True)
        shutil.copytree(self.out("kg_cold"), out_dir)
        p = KGPipeline(spark, self.inputs["paths"]["base"], out_dir)
        t0 = time.perf_counter()
        with tracer.span("pipeline", "append_transcripts") as c:
            c["rows_out"] = p.append_transcripts(self.inputs["paths"]["delta"])
        t_append = time.perf_counter() - t0
        with tracer.span("refresh", "resume_after_append"):
            kg = p.run(resume=True)
        self.m["refresh_s"] = time.perf_counter() - t0
        self.append_s = t_append
        log(f"refresh: {self.m['refresh_s']:.2f}s (append {t_append:.2f}s)")
        errs = check_against_oracle(kg, self.inputs["oracle_all"])
        self.op(not errs, f"refresh vs oracle: {'; '.join(errs)}")
        return kg

    def queries(self, kg: dict, seconds: float, tracer) -> None:
        """Closed loop, one client: single questions for ``seconds`` (at
        least MIN_QUERIES), then BATCHES batches (median); each single
        answer must equal the batch's answer to the same question."""
        from graphrag_litex_spark.querying.answer import answer_question, answer_questions

        qs = self.inputs["questions"]
        summ, emb = kg["summaries"], kg["summary_embeddings"]
        lat, single = [], []
        deadline = time.perf_counter() + seconds
        while len(lat) < MIN_QUERIES or time.perf_counter() < deadline:
            t = time.perf_counter()
            with tracer.span("answer", "answer_question") as c:
                single.append(answer_question(summ, qs[len(lat) % len(qs)], summary_embeddings=emb))
                c["rows_out"] = 1
            lat.append(time.perf_counter() - t)
        batch_s = []
        for _ in range(BATCHES):
            t0 = time.perf_counter()
            with tracer.span("answer", "answer_questions") as c:
                batch = answer_questions(summ, qs, summary_embeddings=emb)
                c["rows_out"] = len(batch)
            batch_s.append(time.perf_counter() - t0)
            self.op(len(batch) == len(qs), "batch answer count")
        self.m["query_batch_s"] = statistics.median(batch_s)
        for i, a in enumerate(single):
            b = batch[i % len(qs)]
            self.op(
                a["used_communities"] == b["used_communities"] and a["answer"] == b["answer"],
                f"single answer differs from batch answer for {qs[i % len(qs)]!r}",
            )
        self.m["query_p50_ms"] = statistics.median(lat) * 1e3
        self.m["query_p90_ms"] = statistics.quantiles(lat, n=10)[8] * 1e3
        self.m["query_samples"] = len(lat)
        log(f"queries: {len(lat)} in closed loop, p50 {self.m['query_p50_ms']:.1f}ms; "
            f"batch {self.m['query_batch_s']:.2f}s")

    def sweep(self, spark, kg: dict, tracer) -> None:
        import __spark_entry__ as E

        sweep_dir = self.inputs["paths"]["sweep"]
        E._KG_CACHE[E._sf_from_dir(sweep_dir)] = kg
        leaves = E.queries()
        total = 0.0
        self.leaf_s = {}
        for name in LEAVES:
            t0 = time.perf_counter()
            try:
                with tracer.span("leaf", name) as c:
                    n = leaves[name](spark, sweep_dir).count()
                    c["rows_out"] = n
            except Exception as ex:  # a failing leaf is a counted failure, not a crash
                self.op(False, f"leaf {name}: {type(ex).__name__}: {str(ex)[:300]}")
                continue
            dt = time.perf_counter() - t0
            self.leaf_s[name] = dt
            log(f"leaf {name}: {dt:.2f}s")
            total += dt
            self.op(n > 0, f"leaf {name} returned no rows")
        self.m["sweep_s"] = total
        log(f"sweep: {total:.2f}s over {len(self.leaf_s)} leaves")


def traced_build(r: Run, spark, tracer) -> dict:
    """Stage-by-stage build under spans, plus direct linking / CC calls that
    split the canon_map stage between ``link`` and ``cc``, plus the
    distributed CC and community loops forced by ``driver_threshold=0`` and
    checked against the driver-local results."""
    from pyspark.sql import functions as F

    from graphrag_litex_spark.operators.cc import connected_components
    from graphrag_litex_spark.operators.communities import detect_communities
    from graphrag_litex_spark.operators.iterutils import hard_checkpoint, release
    from graphrag_litex_spark.operators.linking import candidate_pairs
    from graphrag_litex_spark.plans.pipeline import KGPipeline

    out_dir = r.out("kg_traced")
    shutil.rmtree(out_dir, ignore_errors=True)
    p = KGPipeline(spark, r.inputs["paths"]["base"], out_dir)
    with tracer.span("pipeline", "build"):
        for stage in BUILD_STAGES:
            with tracer.span(STAGE_LAYER[stage], stage) as c:
                kg = p.run(resume=True, until=None if stage == "summary_embeddings" else stage)
            stats = manifest_stats(out_dir)
            c["rows_out"] = stats[stage]["rows"] + (stats["nodes"]["rows"] if stage == "triples" else 0)
    with tracer.span("pipeline", "resume_noop"):
        kg = p.run(resume=True)

    names = hard_checkpoint(
        kg["mentions"].select("norm_name").where(F.col("norm_name") != "").distinct()
    )
    name_list = [x[0] for x in names.collect()]
    blocks: dict[str, int] = {}
    for n in name_list:
        b = n.split(" ", 1)[0]
        blocks[b] = blocks.get(b, 0) + 1
    r.pairs_scored = sum(k * (k - 1) // 2 for k in blocks.values())
    with tracer.span("link", "candidate_pairs") as c:
        pairs = hard_checkpoint(candidate_pairs(names))
        c["rows_out"] = r.pairs_kept = pairs.count()
    with tracer.span("cc", "connected_components") as c:
        local = set(map(tuple, connected_components(names, pairs).collect()))
        c["rows_out"] = len(local)
    r.cc_state = len(name_list) + 2 * r.pairs_kept
    with tracer.span("cc_dist", "connected_components[distributed]"):
        dist = set(map(tuple, connected_components(names, pairs, driver_threshold=0).collect()))
    r.op(dist == local, "distributed CC labels differ from driver-local ones")
    und = kg["edges"].select(
        F.least("src_id", "dst_id").alias("a"), F.greatest("src_id", "dst_id").alias("b")
    ).where(F.col("a") != F.col("b")).distinct().count()
    r.comm_state = stats["nodes"]["rows"] + und
    local = set(map(tuple, detect_communities(kg["nodes"], kg["edges"]).collect()))
    with tracer.span("communities_dist", "detect_communities[distributed]"):
        dist = set(map(tuple, detect_communities(kg["nodes"], kg["edges"], driver_threshold=0).collect()))
    r.op(dist == local, "distributed communities differ from driver-local ones")
    release(pairs)
    release(names)
    return kg


def trace_metrics(r: Run, spans: list[dict], trace_overhead_s: float) -> dict:
    from spans import layer_totals

    core = [s for s in spans if s["layer"] in LAYERS]
    totals = layer_totals(core)
    m: dict[str, float] = {}
    for layer in LAYERS:
        t = totals.get(layer, {})
        m[f"{layer}.wall_s"] = t.get("wall_s", 0.0)
        m[f"{layer}.cpu_s"] = t.get("cpu_s", 0.0)
        m[f"{layer}.jobs"] = t.get("jobs", 0)
        m[f"{layer}.tasks"] = t.get("tasks", 0)
        m[f"{layer}.shuffle_bytes"] = t.get("shuffle_bytes", 0)
        m[f"{layer}.spill_bytes"] = t.get("spill_bytes", 0)
        m[f"{layer}.rows_out"] = t.get("rows_out", 0)
    # Build shares from the steady build, one sequential run() call: each
    # stage's manifest "sec" goes to its layer (canon_map split between link
    # and cc in the ratio of the direct calls' self times), and the rest of
    # the wall time -- lock, fingerprint, manifest, stage scaffolding -- to
    # the pipeline.
    steady = r.steady_stats
    link_w, cc_w = totals["link"]["wall_s"], totals["cc"]["wall_s"]
    share = dict.fromkeys(["extract", "link", "cc", "merge", "communities", "answer"], 0.0)
    for stage, e in steady.items():
        if STAGE_LAYER[stage] == "link+cc":
            share["link"] += e["sec"] * link_w / (link_w + cc_w)
            share["cc"] += e["sec"] * cc_w / (link_w + cc_w)
        else:
            share[STAGE_LAYER[stage]] += e["sec"]
    share["pipeline"] = r.steady_s - sum(e["sec"] for e in steady.values())
    for layer, v in share.items():
        m[f"{layer}.build_share"] = v / r.steady_s
    m["link.pairs_scored"] = r.pairs_scored
    m["link.pairs_kept"] = r.pairs_kept
    m["link.kept_ratio"] = r.pairs_kept / max(r.pairs_scored, 1)
    m["cc.state_rows"] = r.cc_state
    m["communities.state_rows"] = r.comm_state
    for layer in ("cc", "communities"):
        dist = [s for s in spans if s["layer"] == f"{layer}_dist"][0]
        m[f"{layer}.dist_wall_s"] = dist["self_s"]
        m[f"{layer}.dist_jobs"] = dist["jobs"]
        m[f"{layer}.dist_cpu_s"] = dist["cpu_s"]
    skew = []
    for st in ("nodes", "triples", "edges", "claims"):
        e = steady[st]
        if e["rows"] and e["files"]:
            skew.append(e["max_part_rows"] / (e["rows"] / e["files"]))
    m["merge.max_part_skew"] = max(skew, default=0.0)
    m["pipeline.overhead_s"] = share["pipeline"]
    m["pipeline.resume_noop_s"] = [s for s in spans if s["name"] == "resume_noop"][0]["self_s"]
    m["pipeline.append_s"] = r.append_s
    m["pipeline.refresh_s"] = r.m["refresh_s"]
    m["pipeline.bytes_written"] = sum(v.get("bytes", 0) for v in steady.values())
    m["answer.query_p50_ms"] = r.m["query_p50_ms"]
    m["answer.query_p90_ms"] = r.m["query_p90_ms"]
    m["answer.query_samples"] = r.m["query_samples"]
    q_spans = [s for s in spans if s["name"] == "answer_question"]
    m["answer.jobs_per_query"] = sum(s["jobs"] for s in q_spans) / max(len(q_spans), 1)
    for name, v in r.leaf_s.items():
        m[f"leaf.{name}_s"] = v
    m["trace.overhead_s"] = trace_overhead_s
    return m


UNITS = {
    "setup_s": "s",
    "cold_build_s": "s",
    "build_triples_per_s": "1/s",
    "query_batch_s": "s",
    "sweep_s": "s",
    "peak_rss_mb": "MB",
}


def layer_unit(name: str) -> str:
    tail = name.rsplit(".", 1)[1]
    if tail.endswith("_s"):
        return "s"
    if tail.endswith("_ms"):
        return "ms"
    if tail.endswith("bytes") or tail == "bytes_written":
        return "bytes"
    if tail in ("build_share", "kept_ratio", "max_part_skew", "jobs_per_query"):
        return "ratio"
    return "count"


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="KG engine benchmark")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "graphrag_litex_spark", "plans", "pipeline.py")):
        log(f"no graphrag_litex_spark package under {ROOT}: nothing to benchmark")
        return 2
    run_dir = os.path.join(WORK, f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    cores = pin_environment(run_dir)
    if HERE not in sys.path:
        sys.path.insert(0, HERE)
    try:
        return bench(a, cores, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def bench(a, cores: int, run_dir: str) -> int:
    import __spark_entry__  # noqa: F401  (its import-time corpora are not timed)
    from graphrag_litex_spark.session import get_spark

    from spans import Tracer

    spec = WORKLOADS[a.workload]
    probe_pre = probe() if a.trace else None
    inputs = make_inputs(run_dir, spec, a.seed, with_delta=a.trace == 1)

    def factory():
        return get_spark(
            app_name="graphrag_litex_spark_perfbench",
            cores=cores,
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
                "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
                "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch"
                f" -Djava.io.tmpdir={os.environ['TMPDIR']} -Dderby.system.home={run_dir}",
            },
        )

    r = Run(factory, inputs, run_dir)
    with RssMonitor() as rss:
        spark = r.setup()
        gateway = spark.sparkContext._gateway
        try:
            tracer = Tracer(spark, a.trace == 1)
            kg = r.builds(spark, sequential=a.trace == 1)
            if a.trace:
                traced_build(r, spark, tracer)
            r.queries(kg, a.seconds, tracer)
            r.sweep(spark, kg, tracer)
            if a.trace:
                r.refresh(spark, tracer)
            spans = tracer.finish() if a.trace else []
        finally:
            spark.stop()
            gateway.shutdown()
            gateway.proc.stdin.close()
            gateway.proc.wait(timeout=60)
    r.m["peak_rss_mb"] = rss.peak_kb / 1024
    if a.trace:
        log(f"probe_sec_pre {probe_pre} probe_sec_post {probe()}")

    if a.trace:
        layer_m = trace_metrics(r, spans, tracer.overhead_s)
        metrics = {k: {"value": v, "unit": layer_unit(k)} for k, v in layer_m.items()}
    else:
        metrics = {k: {"value": r.m[k], "unit": u} for k, u in UNITS.items()}
    correct = r.failed == 0
    print(json.dumps({"correct": correct, "attempted": r.attempted, "failed": r.failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
