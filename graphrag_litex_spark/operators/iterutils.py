"""Iteration-safe checkpointing for DataFrame loops (CC, LPA), the one
owner of checkpoint lifetimes, and the small-graph regime shared by every
graph operator's driver-local valve.

Iterative DataFrame algorithms (connected components, label propagation)
re-join each iteration's output with itself. Two failure modes on stock
Spark 4.x, both observed and diagnosed here (jstack showed the driver
burning minutes in ``SizeInBytesOnlyStatsPlanVisitor`` doing Toom-Cook
BigInteger multiplication):

  1. ``cache()`` does not truncate the logical plan, so the plan tree (and
     analysis/cache-lookup cost) doubles per iteration.
  2. ``localCheckpoint()`` truncates the plan BUT preserves the origin
     plan's *estimated* statistics on the resulting ``LogicalRDD``
     (stats rewrite in ExistingRDD.scala). A self-join squares the
     sizeInBytes estimate, so after n iterations the estimate is a
     ~2^n-bit BigInteger — at iteration ~20 the optimizer spends minutes
     multiplying million-digit numbers and the job appears hung.

``hard_checkpoint`` fixes both: localCheckpoint for plan/lineage
truncation, then re-wrap the checkpointed RDD[InternalRow] in a FRESH
LogicalRDD via ``SparkSession.internalCreateDataFrame`` — which carries no
origin stats, so estimates reset to a constant every iteration. Falls back
to plain localCheckpoint if the (package-private, but py4j-visible) API is
unavailable.

Checkpoint lifetime has one owner, :class:`checkpoint_scope`: every
operator that checkpoints takes its checkpoints through a scope, drops
superseded round state through it, and hands its result every checkpoint
the result reads — the result's ``_graft_ckpt`` tuple, which
:func:`release` frees once consumed. The scope frees everything else on
any exit: return, ``RuntimeError`` or a Spark exception.

Every distributed graph loop ends its rounds in
:meth:`checkpoint_scope.observed`, so a round's convergence test and the
loop's state sizing ride the
checkpoint job (a separate ``limit(1).count()`` is two jobs under AQE), and
reads one graph: :func:`undirected_simple` and its two directions,
:func:`symmetric`.

Small-graph regime: the graph operators' round jobs are pure scheduler
overhead when the graph fits on the driver. :func:`local_graph` is their
one regime probe (bounded raw-row collect, string-id guard, local dedup)
and :func:`local_frame` hands a driver-computed result back as a local
relation.
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

# Default cap on graph state (2 x raw edge rows + vertices) for every
# driver-local valve and for the pipeline's graph tail.
DRIVER_THRESHOLD = 100_000


def hard_checkpoint(df: DataFrame) -> DataFrame:
    """Eager localCheckpoint + strip preserved origin statistics.

    Returns a DataFrame whose logical plan is a bare LogicalRDD over the
    checkpointed data. The underlying checkpoint is kept on the returned
    object as ``_graft_ckpt``, a one-handle tuple, so callers may ``release()`` it.
    """
    ck = df.localCheckpoint(eager=True)
    try:
        jdf = ck._jdf
        jrdd = jdf.queryExecution().toRdd()
        jspark = df.sparkSession._jsparkSession
        new_jdf = jspark.internalCreateDataFrame(jrdd, jdf.schema(), False)
        out = DataFrame(new_jdf, df.sparkSession)
    except Exception:
        # Private API unavailable (e.g. Spark Connect): keep the plain
        # checkpoint — correct, but subject to failure mode (2) above for
        # very long loops.
        out = ck
    out._graft_ckpt = (ck,)  # type: ignore[attr-defined]
    return out


def undirected_simple(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """The undirected simple graph of an edge list: (a, b) with a < b,
    distinct, self-loops dropped — the one graph every graph loop reads
    (driver-local: ``LocalGraph.pairs``)."""
    a, b = F.least(F.col(src), F.col(dst)), F.greatest(F.col(src), F.col(dst))
    return (
        edges.select(a.alias("a"), b.alias("b"))
        .where(F.col("a") != F.col("b"))
        .distinct()
    )


def symmetric(und: DataFrame) -> DataFrame:
    """Both directions (u, v) of every (a, b) pair of
    :func:`undirected_simple`: each directed pair once, so a parallel edge
    or a self-loop never counts twice as a neighbor (``LocalGraph.adj``)."""
    return und.select(F.col("a").alias("u"), F.col("b").alias("v")).unionAll(
        und.select(F.col("b").alias("u"), F.col("a").alias("v"))
    )


class loop_shuffle_partitions:
    """Context manager: size shuffle partitions to the loop's state size.

    Iterative algorithms (CC, LPA) run dozens of tiny shuffles over state
    that is usually orders of magnitude smaller than the corpus (distinct
    names / entities). With corpus-sized shuffle-partition counts every
    iteration pays per-task scheduling overhead times partitions — measured
    ~2.5x slowdown of the whole linking stage at local[32] vs local[8] on
    a 61-vertex graph. One partition per ~50k state rows, capped at the
    session default, floors at 1.
    """

    def __init__(self, spark, n_rows: int, rows_per_partition: int = 50_000) -> None:
        self.spark = spark
        self.target = max(1, min(
            int(spark.conf.get("spark.sql.shuffle.partitions")),
            n_rows // rows_per_partition + 1,
        ))

    def __enter__(self):
        self._saved = self.spark.conf.get("spark.sql.shuffle.partitions")
        self.spark.conf.set("spark.sql.shuffle.partitions", str(self.target))
        return self

    def __exit__(self, *exc):
        self.spark.conf.set("spark.sql.shuffle.partitions", self._saved)
        return False


def scale_out(df: DataFrame, key_col: str | None = None) -> DataFrame:
    """Fan a narrow input out to cluster parallelism before expensive
    per-row work.

    A small parquet table arrives as ONE input split (one file, one row
    group => one task), which serializes every downstream per-row
    expression onto a single core until the first exchange — the "input
    skew" case of the optimization playbook (guide §2.5). This helper
    repartitions ONLY when the scan under-parallelizes (same valve as the
    pipeline's chunk stage): a well-partitioned warehouse table passes
    through untouched, so at cluster scale this is a no-op, while the
    one-file case fans out for the cost of shuffling the (tiny, by
    premise) input once.

    ``key_col`` hash-partitions on a real key (deterministic under task
    retry); omitted, round-robin with its sort-before-repartition guard.

    Applies ONLY to scan-rooted frames (optionally under Filter/Project
    wrappers): a derived frame has had its parallelism shaped by upstream
    exchanges already, and merely ASKING for its partition count
    (``df.rdd``) forces a full physical planning pass — measured ~0.7s on
    a window+agg input, more than the fan-out could save.
    """
    sc = df.sparkSession.sparkContext
    target = max(sc.defaultParallelism * 2, 8)
    try:
        node = df._jdf.queryExecution().analyzed()
        for _ in range(8):
            name = node.getClass().getSimpleName()
            if name in ("Filter", "Project", "SubqueryAlias", "GlobalLimit", "LocalLimit"):
                node = node.children().head()
            else:
                break
        if not node.children().isEmpty():
            return df  # derived frame (join/agg/window/exchange upstream)
    except Exception:
        pass  # private API unavailable: fall through to the partition probe
    if df.rdd.getNumPartitions() >= max(target // 2, 2):
        return df
    if key_col is not None:
        from pyspark.sql import functions as F

        return df.repartition(target, F.col(key_col))
    return df.repartition(target)


def release(df: DataFrame) -> None:
    """Free the blocks of every checkpoint a releasable frame reads (its
    ``_graft_ckpt`` handles: a ``hard_checkpoint`` result, or a
    :class:`checkpoint_scope` result): unpersist each checkpointed RDD (the
    ``localCheckpoint`` Dataset is not in the CacheManager, so
    ``Dataset.unpersist`` frees nothing). Any later read of a frame over
    such a checkpoint fails with ``CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND``, so
    release only what nothing reads any more."""
    for ck in _handles(df):
        _unpersist(ck)


def _handles(df: DataFrame | None) -> tuple:
    return getattr(df, "_graft_ckpt", ())


def _unpersist(ck: DataFrame) -> None:
    try:
        ck._jdf.queryExecution().analyzed().rdd().unpersist(False)
    except Exception:
        pass  # private API unavailable (e.g. Spark Connect), as in hard_checkpoint


class checkpoint_scope:
    """Context manager: the one owner of the checkpoints an operator call
    takes (:meth:`checkpoint`, :meth:`observed`) or adopts from a nested
    operator's result (:meth:`own`). Superseded round state is freed with
    :meth:`drop`; :meth:`result` hands the returned frame every checkpoint
    it reads; on any exit the scope frees all the others. It takes no Spark
    action (unpersisting is no job), so no plan or job count changes.
    """

    def __init__(self) -> None:
        self._held: dict[int, DataFrame] = {}

    def __enter__(self) -> "checkpoint_scope":
        return self

    def __exit__(self, *exc):
        for ck in self._held.values():
            _unpersist(ck)
        self._held = None  # closed: a later own(), drop() or result() fails loudly
        return False

    def own(self, df: DataFrame) -> DataFrame:
        """Hold the checkpoints ``df`` reads until the scope exits."""
        for ck in _handles(df):
            self._held[id(ck)] = ck
        return df

    def checkpoint(self, df: DataFrame) -> DataFrame:
        """:func:`hard_checkpoint`, held by the scope."""
        return self.own(hard_checkpoint(df))

    def observed(self, df: DataFrame, *columns: str, **metrics: Column) -> tuple[DataFrame, dict]:
        """:meth:`checkpoint` of ``df`` -> ``(frame, values)``: ``metrics``
        (name -> aggregate Column over ``df``) are observed by the checkpoint
        job itself, a fresh ``Observation`` per call (an empty input the
        optimizer prunes runs no job and still reports them); a NULL
        aggregate (a sum over no rows) reads as 0. ``columns`` (default:
        all) are the state columns kept, so a column only a metric reads (a
        round's previous label) is dropped before the data is pinned."""
        obs = Observation()
        observed = df.observe(obs, *(m.alias(k) for k, m in metrics.items()))
        out = self.checkpoint(observed.select(*columns) if columns else observed)
        return out, {k: 0 if v is None else v for k, v in obs.get.items()}

    def drop(self, *dfs: DataFrame | None) -> None:
        """Free superseded state now (None is skipped)."""
        for df in dfs:
            for ck in _handles(df):
                self._held.pop(id(ck), None)
            release(df)

    def result(self, df: DataFrame, *reads: DataFrame) -> DataFrame:
        """Mark ``df`` as the operator's result: it carries the handles of
        its own and every ``reads`` frame's checkpoints (release(df) frees
        them), and the scope no longer frees those on exit."""
        keep = {id(ck): ck for r in (df, *reads) for ck in _handles(r)}
        for k in keep:
            self._held.pop(k, None)
        df._graft_ckpt = tuple(keep.values())  # type: ignore[attr-defined]
        return df


class LocalGraph(NamedTuple):
    """A probe-collected graph small enough for the driver.

    ``vertices``: the distinct probed vertex ids, sorted (None when no
    vertex frame was passed). ``pairs``: the undirected simple edge set,
    ``(a, b)`` with a < b, self-loops dropped, sorted. ``adj``: every
    endpoint of ``pairs`` -> its sorted neighbors, keys in sorted order.
    """

    vertices: list[str] | None
    pairs: list[tuple[str, str]]
    adj: dict[str, list[str]]


def local_graph(
    edges: DataFrame,
    src: str,
    dst: str,
    driver_threshold: int,
    vertices: DataFrame | None = None,
    id_col: str | None = None,
) -> LocalGraph | None:
    """Decide a graph operator's regime: the graph as a :class:`LocalGraph`
    when ``2 x raw edge rows + |vertices|`` (``4 x raw edge rows`` when no
    vertices are passed) fits under ``driver_threshold``, else None — run
    the distributed loop. ``driver_threshold <= 0`` never goes local.

    Raw rows bound the deduped state, so the probe needs no dedup: a narrow
    ``limit(cap + 1).collect()`` over the edges, then — only when they fit —
    over ``vertices[id_col]`` (default: its first column). No shuffle, no
    checkpoint, no count; an over-threshold graph pays only a cap-bounded
    scan before its distributed loop.

    String ids only: the driver-local kernels sort ids with Python string
    ordering (== UTF8String byte order) and build string-schema frames, so
    any NULL or non-string id returns None.
    """
    if driver_threshold <= 0:
        return None
    cap = driver_threshold // (2 if vertices is not None else 4)
    rows = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .limit(cap + 1)
        .collect()
    )
    if len(rows) > cap or not all(isinstance(x, str) for r in rows for x in r):
        return None
    ids = None
    if vertices is not None:
        budget = driver_threshold - 2 * len(rows)
        vrows = (
            vertices.select(F.col(id_col or vertices.columns[0]))
            .limit(budget + 1)
            .collect()
        )
        if len(vrows) > budget or not all(isinstance(r[0], str) for r in vrows):
            return None
        ids = sorted({r[0] for r in vrows})
    pairs = sorted({(a, b) if a < b else (b, a) for a, b in rows if a != b})
    adj: dict[str, list[str]] = {}
    for a, b in pairs:
        adj.setdefault(a, []).append(b)
        adj.setdefault(b, []).append(a)
    return LocalGraph(ids, pairs, {v: sorted(adj[v]) for v in sorted(adj)})


def local_frame(spark, rows: list, columns: list[str], schema: str) -> DataFrame:
    """Driver rows -> DataFrame via pandas/Arrow: a local relation. A plain
    list-of-tuples ``createDataFrame`` builds a pickled-Python-rows RDD
    whose every downstream scan (count, coalesced write, a query's
    ``orderBy().limit().collect()``) round-trips Python workers."""
    import pandas as pd

    return spark.createDataFrame(pd.DataFrame(rows, columns=columns), schema=schema)
