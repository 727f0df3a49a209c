"""The KG-construction pipeline spine (SURVEY.md §7 stage tables).

transcripts -> chunks -> extractions -> {mentions, raw_edges, raw_claims}
           -> canon_map (linking + CC) -> nodes / edges / triples / claims
           -> communities + stats -> summaries -> summary_embeddings

Every stage is materialized to parquet under ``out_dir`` and recorded in a
``_manifest.json`` with a fingerprint of (pipeline version, config, input
fingerprint); a re-run with ``resume=True`` skips stages whose fingerprint
matches and whose output exists — the checkpoint-resumable stage boundaries
the north rule requires (the reference's analog is the save/load JSON
round-trip, /root/reference/main.py:105-135). Stage outputs carry
provenance (source_id, chunk_id) per row = per-partition lineage.

Scale design notes (local[32] is a proxy for a 1000-executor cluster):
  * the only Python on the corpus-proportional path is the Arrow-batched
    extraction UDF — normalization, linking, CC and the merges are Catalyst
    expressions/joins. Python runs again only on the graph-sized tail: the
    summary-embedding UDF, or, when the entity graph fits under the
    community valve, the driver-local tail that builds communities, stats,
    summaries and embeddings from one collect (operators/communities.py
    ``graph_tail``);
  * canon_map (distinct normalized names, not mentions) is broadcast into
    the resolution joins (D1) only while its measured parquet size is under
    ``_CANON_BROADCAST_BYTES``; above that the joins degrade to
    AQE-managed shuffle joins instead of hitting the 8 GB broadcast cap;
  * merge aggregations use salted two-phase aggregation for hot keys
    (operators/merge.py), with the salt scaled to the cluster, and AQE
    handles post-shuffle coalescing/skew;
  * parquet stage materialization doubles as lineage truncation for the
    iterative stages (CC, LPA).
"""

from __future__ import annotations

import hashlib
import json
import os
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass
from functools import cache, reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from graphrag_litex_spark.functions.normalize import SIM_THRESHOLD
from graphrag_litex_spark.operators import communities as comm_ops
from graphrag_litex_spark.operators import linking
from graphrag_litex_spark.operators import merge as merge_ops
from graphrag_litex_spark.operators.cc import connected_components
from graphrag_litex_spark.operators.extraction import (
    extract_items,
    items_mentions,
    items_raw_claims,
    items_raw_edges,
)
from graphrag_litex_spark.operators.iterutils import (
    DRIVER_THRESHOLD,
    checkpoint_scope,
    local_frame,
    release,
)
from graphrag_litex_spark.operators.normalize_ops import norm_name_col

PIPELINE_VERSION = 11


# Per-partition lineage entries recorded per stage; beyond this many output
# files only the aggregate + skew stats are kept (manifest stays KB-sized at
# 10^5-file stages, where per-file detail belongs in the files themselves).
_LINEAGE_MAX_FILES = 512

# D1 broadcast valve: hint F.broadcast on the canon-map resolution joins only
# while the map's measured parquet size (manifest bytes) is at or under this.
# Above it (10^8+ distinct names at 10^12 turns) the joins fall back to
# AQE-managed shuffle joins instead of dying at Spark's 8 GB broadcast cap.
_CANON_BROADCAST_BYTES = 200 * 1024 * 1024


def _parquet_stats(path: str) -> dict:
    """Stage-output metrics from parquet footers (metadata-only, no Spark
    job): totals plus PER-PARTITION lineage — one (file, rows, bytes) entry
    per output file (= write partition), with ``max_part_rows`` as the skew
    indicator (a partition far above rows/files signals a hot key that the
    salting/AQE valves should have defused). Recorded per stage in the
    manifest — the north rule's per-partition lineage + metrics, alongside
    the per-row (source_id, chunk_id) provenance columns."""
    import pyarrow.parquet as pq

    parts = []
    for dp, _, fs in os.walk(path):
        for f in fs:
            if f.endswith(".parquet"):
                fp = os.path.join(dp, f)
                parts.append(
                    {
                        "file": os.path.relpath(fp, path),
                        "rows": pq.read_metadata(fp).num_rows,
                        "bytes": os.stat(fp).st_size,
                    }
                )
    parts.sort(key=lambda p: p["file"])
    out = {
        "rows": sum(p["rows"] for p in parts),
        "files": len(parts),
        "bytes": sum(p["bytes"] for p in parts),
        "max_part_rows": max((p["rows"] for p in parts), default=0),
    }
    if len(parts) <= _LINEAGE_MAX_FILES:
        out["partitions"] = parts
    else:
        out["partitions_truncated"] = True
    return out


def build_report(spark: SparkSession, out_dir: str) -> DataFrame:
    """Queryable face of a build's checkpoint manifest -> one row per
    completed stage: (stage, sec, rows, files, bytes, max_part_rows).
    The operator dashboard for "which stage cost what, and is any stage's
    output skewed" — read from ``_manifest.json`` only (no Spark job over
    the stage data; the manifest is KB-sized at any corpus scale)."""
    manifest_path = os.path.join(out_dir, "_manifest.json")
    with open(manifest_path) as f:
        manifest = json.load(f)
    rows = [
        {
            "stage": name,
            "sec": float(e.get("sec", 0.0)),
            "rows": int(e.get("rows", 0)),
            "files": int(e.get("files", 0)),
            "bytes": int(e.get("bytes", 0)),
            "max_part_rows": int(e.get("max_part_rows", 0)),
        }
        for name, e in manifest.items()
        if isinstance(e, dict) and "fingerprint" in e
    ]
    return local_frame(
        spark,
        rows,
        ["stage", "sec", "rows", "files", "bytes", "max_part_rows"],
        "stage string, sec double, rows long, files long, bytes long, "
        "max_part_rows long",
    )


def build_lineage(spark: SparkSession, out_dir: str) -> DataFrame:
    """Per-partition lineage as a table -> (stage, file, rows, bytes), one
    row per output file of every completed stage that recorded partition
    detail (stages beyond _LINEAGE_MAX_FILES files keep aggregates only —
    surfaced here as zero rows for that stage, not an error)."""
    with open(os.path.join(out_dir, "_manifest.json")) as f:
        manifest = json.load(f)
    rows = [
        {
            "stage": name,
            "file": p["file"],
            "rows": int(p["rows"]),
            "bytes": int(p["bytes"]),
        }
        for name, e in manifest.items()
        if isinstance(e, dict)
        for p in e.get("partitions", [])
    ]
    return local_frame(
        spark,
        rows,
        ["stage", "file", "rows", "bytes"],
        "stage string, file string, rows long, bytes long",
    )


def frame_checksum(df: DataFrame) -> dict:
    """{rows, checksum} for any DataFrame under the attestation's
    canonical hash (see :func:`stage_checksums` for the canonicalization
    rules). Two frames with the same semantic content — any row order, any
    partitioning, any provenance-array element order, FP noise under 6dp —
    produce the same checksum."""
    parts = []
    for fld in df.schema.fields:
        c = f"`{fld.name}`"
        t = fld.dataType.simpleString()
        if t.startswith("array"):
            parts.append(f"array_sort({c})")
        elif t in ("double", "float"):
            parts.append(f"round(cast({c} as double), 6)")
        else:
            parts.append(c)
        parts.append(f"cast(isnull({c}) as int)")
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.expr(
            f"sum(cast(xxhash64({', '.join(parts)}) as decimal(38, 0)))"
        ).alias("x"),
    ).first()
    return {"rows": int(row["n"]), "checksum": str(row["x"] or 0)}


def stage_checksums(
    spark: SparkSession, out_dir: str, stages: list[str] | None = None
) -> dict[str, dict]:
    """Build attestation: {stage: {rows, checksum}} with checksum = the
    SUM of xxhash64 over every row's canonicalized columns (decimal(38,0),
    immune to int64 overflow under ANSI) — order-free and
    partitioning-free, so two builds of the same input hash IDENTICALLY
    regardless of cluster size, task layout, or file count, and duplicate
    rows cannot cancel (the bit_xor alternative zeroes out row PAIRS).
    This is the cheap proof of the engine's determinism contract: diff two
    builds (yesterday/today, local[8]/local[32], pre/post-upgrade) by
    comparing KB-sized attestations instead of data. One map-side-combined
    scan per stage; no rows reach the driver.

    Canonicalization before hashing (semantic, not physical, equality):
      * array columns are ``array_sort``-ed — provenance arrays
        (``instances``) are built by ``collect_list`` whose element order
        is task-schedule-dependent;
      * float/double columns round to 6dp — aggregate strengths
        accumulate in shuffle order, identical only to ~1e-15;
      * each column's null flag hashes alongside its value — xxhash64
        SKIPS null inputs, so (``'CEO'``, NULL) and (NULL, ``'CEO'``)
        would otherwise alias across adjacent nullable columns.
    (Element-level nulls inside arrays still hash positionally through the
    sorted array itself.)

    A stage dir can survive on disk from an EARLIER build (e.g. community
    stages after a claims-only rebuild, or pre-deletion stages after a
    forget): its manifest fingerprint then disagrees with the current
    build's — and the extractions stage itself may carry a ``pending-``
    write-ahead marker (mid-append/forget crash). Both are attested with
    ``"stale": true``: their checksums describe data the build does not
    currently trust and must not be compared as current.
    """
    manifest_path = os.path.join(out_dir, "_manifest.json")
    entries: dict = {}
    if os.path.exists(manifest_path):
        with open(manifest_path) as fh:
            entries = {
                k: v for k, v in json.load(fh).items() if isinstance(v, dict)
            }
    fp_ref = entries.get("extractions", {}).get("fingerprint")
    out: dict[str, dict] = {}
    for name in stages or KGPipeline.STAGES:
        path = os.path.join(out_dir, name)
        if not os.path.exists(os.path.join(path, "_SUCCESS")):
            continue
        entry = frame_checksum(_read_stage(spark, path, entries.get(name)))
        stage_fp = entries.get(name, {}).get("fingerprint")
        is_pending = isinstance(stage_fp, str) and stage_fp.startswith("pending")
        if is_pending or (fp_ref is not None and stage_fp != fp_ref):
            entry["stale"] = True
        out[name] = entry
    return out


def _read_stage(spark: SparkSession, path: str, entry: dict | None) -> DataFrame:
    """A stage's parquet, read with the schema its manifest ``entry``
    recorded at write time: a given schema plans with no Spark job, where
    schema inference costs one job per read. An entry without a schema
    (written before schemas were recorded) falls back to inference."""
    schema = (entry or {}).get("schema")
    reader = spark.read
    if schema:
        reader = reader.schema(StructType.fromJson(json.loads(schema)))
    return reader.parquet(path)


def resolution_join(raw: DataFrame, canon: DataFrame, *, broadcast: bool) -> DataFrame:
    """D1: resolve relationship source/target names to canonical ids via two
    hash joins; INNER join semantics drop rows naming unknown entities
    (reference indexing/simple_graph_builder.py:96-97).

    ``broadcast`` is the caller's size valve: True adds the explicit
    ``F.broadcast`` hint (correct when the canon map is measured-small),
    False leaves join-strategy selection to Catalyst/AQE so a 10^9-row map
    becomes a shuffle join against the bucketed warehouse tables instead of
    blowing the 8 GB broadcast cap."""
    src_map = canon.select(
        F.col("norm_name").alias("_src_norm"),
        F.col("canonical").alias("src"),
        F.col("entity_id").alias("src_id"),
    )
    dst_map = canon.select(
        F.col("norm_name").alias("_dst_norm"),
        F.col("canonical").alias("dst"),
        F.col("entity_id").alias("dst_id"),
    )
    if broadcast:
        src_map, dst_map = F.broadcast(src_map), F.broadcast(dst_map)
    return (
        raw.withColumn("_src_norm", norm_name_col("source"))
        .withColumn("_dst_norm", norm_name_col("target"))
        .join(src_map, "_src_norm")
        .join(dst_map, "_dst_norm")
    )


@dataclass(frozen=True)
class PipelineConfig:
    """What graph to build (reference analogs: /root/reference/config.py).

    Every field enters the checkpoint fingerprint. Physical strategy is the
    engine's call, owned by the module that makes it: the merge salt scales
    with the cluster (``KGPipeline.run``), the giant-block linking valve
    turns on from the distinct-name count (``operators/linking.VALVE_NAMES``),
    the canon map is broadcast while measured-small
    (``_CANON_BROADCAST_BYTES``), and linking's CC labels the name graph
    on the driver while it fits under ``iterutils.DRIVER_THRESHOLD``, else
    with the distributed star-contraction loop (``cc_max_iter`` rounds at
    most, O(log n) needed on any name chain). The one scheduling switch kept is
    ``concurrent_stages``, whose outputs are identical either way.
    """

    min_strength: float = 0.5  # simple_graph_builder.py:83-86
    sim_threshold: float = SIM_THRESHOLD  # entity_resolver.py:10-12
    # Linking scorer: "ngram" (char-3-gram Jaccard, the dependency-free
    # default that the golden oracle replicates) or "embedding" (cosine of
    # name embeddings — the reference's exact scoring semantics,
    # entity_resolver.py:32-42, with the pluggable C7 embedder).
    link_scorer: str = "ngram"
    embed_sim_threshold: float = 0.85  # entity_resolver.py:10-12
    # Embedder for link_scorer="embedding": "hash" (token-overlap cosine),
    # "prefix_ngram" (suffix-expansion linking, the reference's MiniLM-like
    # behavior), or ANY name registered via
    # linking.register_link_embedder(name, factory) — the production
    # sentence-transformer slot; only the NAME enters the checkpoint
    # fingerprint, so configs stay JSON-hashable.
    link_embedder: str = "hash"
    max_instances: int | None = 10_000  # provenance-array cap per node/edge
    cc_max_iter: int = 25
    # Submit the mutually independent nodes/triples/claims stage builds as
    # concurrent Spark jobs (separate driver threads): overlaps one stage's
    # under-parallelized final reduce + write with the next one's scan,
    # shrinking the fixed stage-boundary tail that caps full-pipeline
    # scaling on short runs. Purely a scheduling change — stage outputs,
    # fingerprints, and resume semantics are identical either way.
    concurrent_stages: bool = True
    lpa_iters: int = 8
    min_community_size: int = 3  # config.py:41
    levels: int = 3  # community_detection.py:35
    # Incremental community refresh: when True and a previous communities
    # stage exists on disk (stale after an append invalidated it), its
    # level-0 labels WARM-START the level-0 LPA — on a trillion-edge graph
    # re-running LPA from scratch per append is the cost driver; from a
    # warm seed only the appended neighborhoods move. The result is a
    # valid LPA fixpoint but not necessarily the cold-start labeling
    # (community detection is not unique), so this is opt-in.
    community_warm_start: bool = False
    # Ingest hygiene gate (operators/transcripts.conversation_integrity):
    # when True, conversations whose turn indices are not exactly 0..n-1
    # (duplicates/holes — the precondition for "per-turn text equality
    # under stable (conv_id, turn_idx) ordering") are diverted to a
    # "quarantine" stage table with their full integrity flags and
    # EXCLUDED from the build, instead of silently corrupting reassembly.
    # Cost when on: one conv_id-clustered aggregate over the corpus plus
    # an anti join against the (normally tiny — planner/AQE broadcasts it
    # from its measured parquet size, no forced hint) offender id set.
    # Timestamp regressions are reported in the table but do NOT gate:
    # ordering is by turn_idx, so reassembly stays well-defined. Default
    # off: warehouse inputs that already enforce the invariant shouldn't
    # pay a validation pass per build.
    validate_ingest: bool = False
    # Privacy gate (operators/scrub.pii_redact_text): when True, turn text
    # is PII-redacted (<EMAIL>/<CC>/<SSN>/<PHONE>/<IPV4>) BEFORE chunking,
    # so raw identifiers never reach any derived stage — extraction,
    # chunks, claims, or exports. Map-only regex projection fused into the
    # corpus scan (zero extra shuffle). Opt-in: redaction deliberately
    # breaks the "per-turn text equality vs the source" invariant — the
    # redacted text IS the pipeline's text from this point on, and the
    # config flag is part of the input fingerprint so toggling it rebuilds.
    redact_pii: bool = False


class KGPipeline:
    # Materialized checkpoint stages; mentions/raw_edges/raw_claims are
    # pushdown views over "extractions" (still returned by run()).
    STAGES = [
        "chunks",
        "extractions",
        "mentions",
        "raw_edges",
        "raw_claims",
        "canon_map",
        "nodes",
        "edges",
        "triples",
        "claims",
        "communities",
        "community_stats",
        "summaries",
        "summary_embeddings",
    ]

    def __init__(
        self,
        spark: SparkSession,
        transcripts_path: str,
        out_dir: str,
        config: PipelineConfig | None = None,
    ) -> None:
        self.spark = spark
        self.transcripts_path = transcripts_path
        self.out_dir = out_dir
        self.config = config or PipelineConfig()
        os.makedirs(out_dir, exist_ok=True)
        self._manifest_path = os.path.join(out_dir, "_manifest.json")
        import threading

        # concurrent_stages runs _materialize from several driver threads;
        # the manifest dict + file write are the only shared mutable state.
        self._manifest_lock = threading.Lock()

    # ---- cross-process build lock ----------------------------------------
    @contextmanager
    def _build_lock(self):
        """Exclusive advisory lock on ``out_dir`` for the duration of a
        build. Two DRIVERS writing the same out_dir interleave their
        overwrite-mode stage writes into a union of both runs' files with a
        valid _SUCCESS and a fingerprint-matching manifest — corruption that
        resume then trusts (observed: doubled mention counts after two
        concurrent builds raced one stage dir). O_CREAT|O_EXCL is atomic on
        local/NFS filesystems; a stale lock (dead pid on THIS host) is
        stolen. On object stores there is no exclusive-create primitive —
        there the catalog layer (Iceberg commits) owns write concurrency and
        this lock degrades to best-effort.
        """
        lock_path = os.path.join(self.out_dir, "_BUILD_LOCK")
        while True:
            try:
                fd = os.open(lock_path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
                os.write(fd, str(os.getpid()).encode())
                os.close(fd)
                break
            except FileExistsError:
                try:
                    holder = int(open(lock_path).read().strip() or "0")
                except (OSError, ValueError):
                    holder = 0
                alive = False
                if holder > 0:
                    try:
                        os.kill(holder, 0)  # signal 0: existence probe only
                        alive = True
                    except ProcessLookupError:
                        alive = False
                    except PermissionError:
                        alive = True
                if alive:
                    raise RuntimeError(
                        f"out_dir {self.out_dir!r} is being built by pid "
                        f"{holder} (lock {lock_path}); concurrent builds of "
                        "one out_dir corrupt stage tables — wait for it or "
                        "remove the lock if that pid is on another host and "
                        "known dead"
                    )
                # Stale lock from a dead local process: steal it and retry
                # the atomic create (another waiter may win the race — loop).
                try:
                    os.unlink(lock_path)
                except FileNotFoundError:
                    pass
        try:
            yield
        finally:
            try:
                os.unlink(lock_path)
            except FileNotFoundError:
                pass

    # ---- checkpoint manifest -------------------------------------------
    def _input_fingerprint(
        self,
        extra_inputs: list[str] | None = None,
        forgotten: list[str] | None = None,
    ) -> str:
        from graphrag_litex_spark.sources.tables import TABLE_PREFIX, input_fingerprint

        if extra_inputs is None or forgotten is None:
            manifest = self._load_manifest()
            if extra_inputs is None:
                extra_inputs = manifest.get("extra_inputs", [])
            if forgotten is None:
                forgotten = manifest.get("forgotten_conv_ids", [])
        h = hashlib.sha256()
        h.update(str(PIPELINE_VERSION).encode())
        h.update(json.dumps(asdict(self.config), sort_keys=True).encode())
        if forgotten:
            # The forget list is build input: the same corpus minus a
            # deletion is a different graph, and stages checkpointed before
            # the deletion must not be trusted after it.
            h.update(json.dumps(sorted(forgotten)).encode())
        for p in [self.transcripts_path, *extra_inputs]:
            if p.startswith(TABLE_PREFIX):
                # catalog table: Iceberg snapshot id when available, else the
                # identifier alone (resume is then config-keyed only)
                h.update(p.encode())
                snap = input_fingerprint(self.spark, p)
                if snap:
                    h.update(snap.encode())
                continue
            if os.path.isdir(p):
                files = sorted(
                    os.path.join(dp, f) for dp, _, fs in os.walk(p) for f in fs
                )
            else:
                files = [p]
            for f in files:
                st = os.stat(f)
                h.update(f"{f}:{st.st_size}:{st.st_mtime_ns}".encode())
        return h.hexdigest()

    def _load_manifest(self) -> dict:
        if os.path.exists(self._manifest_path):
            with open(self._manifest_path) as f:
                return json.load(f)
        return {}

    def _save_manifest(self, manifest: dict) -> None:
        with open(self._manifest_path, "w") as f:
            json.dump(manifest, f, indent=1)

    def _stage_path(self, name: str) -> str:
        return os.path.join(self.out_dir, name)

    def _trusted(self, name: str, entry: dict | None, fingerprint: str) -> bool:
        """Whether stage ``name`` may be read as it is on disk: its manifest
        ``entry`` matches ``fingerprint`` and records the stage's schema,
        and the stage directory holds its _SUCCESS marker. An entry without
        a schema (written before entries carried one) is not trusted."""
        return bool(
            entry
            and entry.get("fingerprint") == fingerprint
            and entry.get("schema")
            and os.path.exists(os.path.join(self._stage_path(name), "_SUCCESS"))
        )

    def _stage_entry(self, name: str, fingerprint: str, t0: float, schema) -> dict:
        """The manifest entry of stage ``name``, just written with
        ``schema``: its fingerprint, the seconds since ``t0``, the parquet
        footer stats (no Spark job) and the schema."""
        return {
            "fingerprint": fingerprint,
            "sec": round(time.time() - t0, 2),
            **_parquet_stats(self._stage_path(name)),
            "schema": schema.json(),
        }

    def _materialize(
        self,
        name: str,
        build,
        manifest: dict,
        fingerprint: str,
        resume: bool,
        est_rows: int | None = None,
    ) -> DataFrame:
        """Run ``build()`` unless a fingerprint-matching checkpoint exists.

        The stage is written, then read back with the schema it was written
        with, which the manifest entry also records: neither the read-back
        nor a later resume pays a schema-inference job. A resume trusts
        only an entry that carries its schema (``_trusted``), so an entry
        from a build that did not record one rebuilds its stage once. The
        checkpoints the built frame reads are released once it is written.

        ``est_rows`` sizes the write: graph-shaped stages (communities,
        stats, summaries) are node-proportional, not corpus-proportional, so
        writing them with corpus-sized partitioning produces hundreds of
        near-empty files; one partition per ~200k estimated rows."""
        path = self._stage_path(name)
        entry = manifest.get(name)
        if resume and self._trusted(name, entry, fingerprint):
            return _read_stage(self.spark, path, entry)
        t0 = time.time()
        df = built = build()
        if est_rows is not None:
            n_part = max(1, min(
                self.spark.sparkContext.defaultParallelism, est_rows // 200_000 + 1
            ))
            df = df.coalesce(n_part)
        df.write.mode("overwrite").parquet(path)
        release(built)  # the write was the last read of its checkpoints
        out = self.spark.read.schema(df.schema).parquet(path)
        # Footer metadata — no Spark job. Computed BEFORE taking the lock:
        # at a 10^5-file stage the walk takes seconds, and holding the lock
        # through it would serialize the concurrent stages' commits.
        entry = self._stage_entry(name, fingerprint, t0, df.schema)
        with self._manifest_lock:
            manifest[name] = entry
            self._save_manifest(manifest)
        return out

    # ---- incremental append ----------------------------------------------
    def append_transcripts(self, new_path: str) -> int:
        """Incremental corpus growth: extract ONLY the new transcripts and
        append their items to the extractions stage; downstream stages are
        invalidated (they rebuild from the combined item table on the next
        ``run(resume=True)``), while extraction — the corpus-proportional
        hot path that dominates at 10^12 turns — is never recomputed for
        data already ingested. Returns the number of new turns ingested.
        Same ``extract_items`` kernel as the full build and as the
        streaming analog (streaming/incremental.stream_extract); this is
        the batch path with manifest bookkeeping.

        Crash-safe: the manifest's extractions fingerprint is invalidated
        (set to a ``pending:`` marker) and persisted BEFORE any rows are
        appended. A crash mid-append leaves an invalid fingerprint, so the
        next ``run(resume=True)`` rebuilds the extractions stage from
        scratch instead of trusting a stage with half-appended rows, and a
        retried append raises (stage no longer up-to-date) rather than
        appending the same items twice.
        """
        with self._build_lock():
            return self._append_locked(new_path)

    def _append_locked(self, new_path: str) -> int:
        from graphrag_litex_spark.operators.extraction import extract_items
        from graphrag_litex_spark.sources.tables import read_transcripts

        manifest = self._load_manifest()
        extras = list(manifest.get("extra_inputs", []))
        if new_path == self.transcripts_path or new_path in extras:
            return 0  # idempotent: already ingested
        entry = manifest.get("extractions")
        path = self._stage_path("extractions")
        if not self._trusted("extractions", entry, self._input_fingerprint(extras)):
            raise ValueError(
                "append requires an up-to-date extractions stage; run() first"
            )

        new_tr = read_transcripts(self.spark, new_path)  # schema-validated
        # Same hygiene as a full rebuild — in particular, an append whose
        # input contains a previously-forgotten conversation must not
        # re-ingest it.
        new_tr = self._fan_out(self._ingest_filters(new_tr, manifest))
        n_new = new_tr.count()
        t0 = time.time()

        # Intent marker FIRST (write-ahead): from here until the final
        # manifest save, the extractions stage is not trusted by resume.
        manifest["extractions"] = {**entry, "fingerprint": f"pending-append:{new_path}"}
        self._save_manifest(manifest)

        items = extract_items(new_tr.select("conv_id", "turn_idx", "text"))
        items.write.mode("append").parquet(path)

        # Commit: record the new input and the now-valid fingerprint.
        extras.append(new_path)
        manifest["extra_inputs"] = extras
        manifest["extractions"] = self._stage_entry(
            "extractions", self._input_fingerprint(extras), t0, items.schema
        )
        self._save_manifest(manifest)  # downstream entries now stale -> rebuild
        return n_new

    # ---- shared ingest hygiene -------------------------------------------
    def _fan_out(self, df: DataFrame) -> DataFrame:
        """Spread transcripts for the extraction hot path, shared by full
        rebuilds and appends: repartition by conv_id ONLY when the source's
        file layout under-parallelizes it (a well-partitioned warehouse
        table needs no shuffle here; a single small parquet file would
        otherwise pin extraction to one task; SURVEY.md §4)."""
        n_part = max(self.spark.sparkContext.defaultParallelism * 2, 8)
        if df.rdd.getNumPartitions() < n_part // 2:
            return df.repartition(n_part, "conv_id")
        return df

    def _ingest_filters(
        self, df: DataFrame, manifest: dict, redact: bool = True
    ) -> DataFrame:
        """Source-side hygiene shared by full rebuilds AND incremental
        appends (the two ingest paths must never diverge): the
        right-to-be-forgotten exclusion (deletion-batch-sized broadcast
        anti join) and, when ``redact``, the optional PII redaction
        (map-only). The rebuild path applies redaction SEPARATELY after
        the quarantine gate — the gate's aggregates don't read text
        content, and redacting first would run the regex chain over the
        corpus twice (once under the gate's scan, once under chunking's).
        """
        forgotten = manifest.get("forgotten_conv_ids", [])
        if forgotten:
            fdf = self.spark.createDataFrame(
                [(c,) for c in forgotten], "conv_id string"
            )
            df = df.join(F.broadcast(fdf), "conv_id", "left_anti")
        if redact and self.config.redact_pii:
            from graphrag_litex_spark.operators.scrub import pii_redact_text

            df = pii_redact_text(df).drop("n_pii")
        return df

    # ---- incremental delete (right-to-be-forgotten) ----------------------
    def forget_conversations(self, conv_ids: list[str]) -> int:
        """Remove conversations from every DERIVED stage without
        re-extracting anything: the extraction item table is rewritten
        minus the forgotten source_ids (one scan + filtered write — no
        LLM/extraction compute), downstream stages are invalidated and
        rebuild from the filtered items on the next ``run(resume=True)``.
        Returns how many of the ids were actually present.

        The forget list is recorded in the manifest BEFORE any data moves
        (write-ahead, like append's pending marker) and participates in
        the input fingerprint, so: a crash mid-rewrite leaves an invalid
        extractions fingerprint and the next run rebuilds extraction from
        the inputs WITH the exclusion applied (forgotten data cannot be
        resurrected by a crash); later appends whose input happens to
        contain a forgotten conversation are filtered too; and a stage
        checkpointed before the deletion can never be trusted after it.

        The INPUT corpus files are the caller's to delete — this removes
        the data from the graph's stages, not from the source. Deleting
        input files afterwards changes the input fingerprint and triggers
        a full rebuild (which still honors the forget list).
        """
        with self._build_lock():
            return self._forget_locked(conv_ids)

    def _forget_locked(self, conv_ids: list[str]) -> int:
        import shutil

        manifest = self._load_manifest()
        extras = list(manifest.get("extra_inputs", []))
        old = list(manifest.get("forgotten_conv_ids", []))
        target = sorted(set(old) | {str(c) for c in conv_ids})
        if target == sorted(old):
            return 0  # idempotent: nothing new to forget
        entry = manifest.get("extractions")
        path = self._stage_path("extractions")
        if not self._trusted("extractions", entry, self._input_fingerprint(extras, old)):
            raise ValueError(
                "forget requires an up-to-date extractions stage; run() first"
            )

        t0 = time.time()
        # Write-ahead intent FIRST — before any Spark job runs. From this
        # save on, every rebuild/append computes its fingerprint WITH the
        # new forget list, so even a crash during the presence count below
        # leaves the deletion honored (at worst via a from-scratch
        # re-extraction that applies the exclusion at the source).
        old_fp = entry["fingerprint"]
        new_fp = self._input_fingerprint(extras, target)
        manifest["forgotten_conv_ids"] = target
        self._save_manifest(manifest)

        items = _read_stage(self.spark, path, entry)
        new_ids = sorted(set(target) - set(old))
        drop = self.spark.createDataFrame([(c,) for c in new_ids], "source_id string")
        n_present = (
            items.select("source_id")
            .join(F.broadcast(drop), "source_id", "left_semi")
            .select("source_id")
            .distinct()
            .count()
        )
        if n_present == 0:
            # No-op deletion as far as the ITEM TABLE is concerned: the ids
            # produced no extraction items, so every items-derived stage is
            # already exclusion-clean — RE-STAMP those to the new
            # fingerprint instead of rewriting the corpus for bit-identical
            # outputs. The quarantine stage is the exception: it derives
            # from TRANSCRIPTS (a quarantined conversation has no items but
            # does have a quarantine row), so it keeps its old fingerprint
            # and rebuilds with the exclusion on the next run.
            for name, e in manifest.items():
                if (
                    name != "quarantine"
                    and isinstance(e, dict)
                    and e.get("fingerprint") == old_fp
                ):
                    e["fingerprint"] = new_fp
            self._save_manifest(manifest)
            return 0

        # Distrust the stage across the rewrite itself.
        manifest["extractions"] = {
            **entry,
            "fingerprint": f"pending-forget:{len(target)}",
        }
        self._save_manifest(manifest)

        kept = items.join(F.broadcast(drop), "source_id", "left_anti")
        tmp = path + ".__forget_tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        kept.write.mode("overwrite").parquet(tmp)
        shutil.rmtree(path)
        os.rename(tmp, path)

        manifest["extractions"] = self._stage_entry("extractions", new_fp, t0, kept.schema)
        self._save_manifest(manifest)  # downstream entries now stale -> rebuild
        return n_present

    # ---- run -------------------------------------------------------------
    def run(self, resume: bool = True, until: str | None = None) -> dict[str, DataFrame]:
        with self._build_lock():
            return self._run_locked(resume, until)

    def _run_locked(self, resume: bool, until: str | None) -> dict[str, DataFrame]:
        cfg = self.config
        manifest = self._load_manifest()
        extras = manifest.get("extra_inputs", [])
        fp = self._input_fingerprint(extras)
        mat = lambda name, build, est_rows=None: self._materialize(  # noqa: E731
            name, build, manifest, fp, resume, est_rows
        )
        results: dict[str, DataFrame] = {}
        from graphrag_litex_spark.sources.tables import load_input

        transcripts = reduce(
            DataFrame.unionByName,
            [load_input(self.spark, p) for p in [self.transcripts_path, *extras]],
        )

        # Right-to-be-forgotten exclusion: applied at the source, so a
        # from-scratch rebuild (crash recovery, config change, input-file
        # deletion) can never resurrect forgotten conversations. PII
        # redaction is applied AFTER the quarantine gate below (one corpus
        # regex pass, not two — the gate never reads text content).
        transcripts = self._ingest_filters(transcripts, manifest, redact=False)

        # S0 (optional) ingest gate: quarantine non-contiguous conversations
        # before anything downstream sees them. Materialized as a stage so
        # resume skips the validation pass and operators can inspect WHY a
        # conversation was dropped (lineage: the quarantine row is the
        # drop's record).
        if cfg.validate_ingest:
            from graphrag_litex_spark.operators.transcripts import (
                conversation_integrity,
            )

            results["quarantine"] = mat(
                "quarantine",
                lambda: conversation_integrity(transcripts).where(
                    ~F.col("is_contiguous")
                ),
            )
            transcripts = transcripts.join(
                results["quarantine"].select("conv_id"), "conv_id", "left_anti"
            )

        if cfg.redact_pii:
            from graphrag_litex_spark.operators.scrub import pii_redact_text

            transcripts = pii_redact_text(transcripts).drop("n_pii")

        # S1 chunks (B1/B3): per-turn grain — chunk_id = conv_id||'_'||turn_idx
        # (deterministic ids, reference extraction/text_chunker.py:92,107).
        # Turn text is carried through UNMODIFIED (per-turn text equality
        # invariant, BASELINE input_hint). A trivial projection — kept as a
        # VIEW (materializing it re-wrote the whole corpus once for nothing).
        results["chunks"] = self._fan_out(transcripts).select(
            "conv_id",
            "turn_idx",
            "role",
            "text",
            "tool",
            "ts",
            F.concat_ws("_", "conv_id", "turn_idx").alias("chunk_id"),
        )
        if until == "chunks":
            return results

        # S2 extraction (C1/C4): one Arrow-batched mapInArrow pass emitting
        # a FLAT item stream (one row per entity/relationship/claim) — flat
        # Arrow columns convert ~8x faster than a nested-struct shape.
        # extract_items adds norm_name at write time (JVM expression) so
        # downstream stages never touch Python.
        results["extractions"] = mat(
            "extractions",
            lambda: extract_items(
                results["chunks"].select("conv_id", "turn_idx", "text")
            ),
        )
        # NOT cached: five downstream stages each scan it once; zstd-decoding
        # 334MB beats building a multi-GB deserialized cache (measured: the
        # cache build tripled the first consumer's time and added GC churn).
        if cfg.validate_ingest:
            # An append extracts its batch before any gate runs, and a
            # resume trusts the extractions stage as written: gate the items
            # as well, so a conversation quarantined after its items were
            # written reaches no downstream stage.
            results["extractions"] = results["extractions"].join(
                results["quarantine"].select(F.col("conv_id").alias("source_id")),
                "source_id",
                "left_anti",
            )
        if until == "extractions":
            return results

        # Hot-key stragglers bound the merge stages' reduce time: scale the
        # salt so a hot entity's largest bucket shrinks with the cluster.
        salt_buckets = max(16, self.spark.sparkContext.defaultParallelism * 2)

        # S3/S4 + raw claims: pushdown-filtered VIEWS over the item table —
        # materializing them again would re-write the corpus-sized
        # intermediate 3x for no checkpoint benefit (the kind filter and
        # column pruning reach the parquet scan; shared-disk write bandwidth
        # was the scaling bottleneck).
        results["mentions"] = items_mentions(results["extractions"])
        results["raw_edges"] = items_raw_edges(results["extractions"])
        results["raw_claims"] = items_raw_claims(results["extractions"])
        if until in ("mentions", "raw_edges", "raw_claims"):
            return results

        # S5/S6 linking + connected-components canonicalization (D6 + E3).
        def build_canon() -> DataFrame:
            # norm_name was computed once at extraction-write time (JVM
            # expression); reuse it — recomputing normalization over every
            # mention row doubled this stage's scan cost. The distinct-names
            # set is consumed THREE times (candidate pairs, CC's edge
            # symmetrization, CC's initial labels): checkpoint it once so the
            # corpus-sized mentions scan + distinct shuffle run once, not
            # three times (at sf10 that is two full extra corpus scans).
            # CC's output is itself checkpointed (or driver-built), so the
            # scope frees the names checkpoint before the stage write, and
            # the stage write is the last read of CC's labels.
            with checkpoint_scope() as scope:
                names, n_names = scope.observed(
                    results["mentions"]
                    .select("norm_name")
                    .where(F.col("norm_name") != "")
                    .distinct(),
                    n=F.count(F.lit(1)),
                )
                # Giant-block valve, auto-enabled from the distinct-name count
                # (free: the checkpoint job itself reports it through the
                # observation). At 10^12 turns the name table is the one place a
                # single hot first-token block ("the ...") turns the candidate
                # self-join quadratic; below the threshold exact first-token
                # semantics are kept (identical to the single-process oracle).
                max_block = (
                    linking.VALVE_BLOCK_SIZE
                    if n_names["n"] > linking.VALVE_NAMES
                    else None
                )
                if cfg.link_scorer == "embedding":
                    # "hash" / "prefix_ngram" built-ins, or any embedder
                    # registered via linking.register_link_embedder (the
                    # production sentence-transformer slot, C7).
                    embed_udf = linking.resolve_link_embedder(cfg.link_embedder)
                    pairs = linking.embedding_candidate_pairs(
                        names,
                        cfg.embed_sim_threshold,
                        embed_udf=embed_udf,
                        max_block_size=max_block,
                    )
                else:
                    pairs = linking.candidate_pairs(
                        names, cfg.sim_threshold, max_block_size=max_block
                    )
                labels = connected_components(
                    names, pairs, id_col="norm_name", max_iter=cfg.cc_max_iter
                )
                scope.own(labels)
                return scope.result(
                    labels.select(
                        "norm_name",
                        F.col("label").alias("canonical"),
                        F.sha2(F.col("label"), 256).substr(1, 32).alias("entity_id"),
                    ),
                    labels,
                )

        results["canon_map"] = mat("canon_map", build_canon)
        if until == "canon_map":
            return results

        # D1 size valve: broadcast the name->id map ONLY when small (the
        # reference broadcasts its dict because it IS small per-process;
        # indexing/simple_graph_builder.py:96-97). canon_map has one row per
        # distinct normalized entity name — at 10^12 turns that is plausibly
        # 1e8-1e9 rows, and a forced F.broadcast hint bypasses
        # autoBroadcastJoinThreshold and dies at Spark's 8 GB broadcast cap
        # instead of degrading. The manifest already records the stage's
        # exact on-disk bytes (parquet footers, no extra job): hint below
        # the threshold, otherwise leave the strategy to AQE (the warehouse
        # buckets nodes/edges on the join key for the shuffle-join case).
        canon_bytes = manifest.get("canon_map", {}).get("bytes", 0)
        canon_small = 0 < canon_bytes <= _CANON_BROADCAST_BYTES
        canon = results["canon_map"]
        if canon_small:
            canon = F.broadcast(canon)

        # S7 nodes (E1): canonical merge-agg.
        def build_nodes() -> DataFrame:
            return merge_ops.merge_nodes(
                results["mentions"].join(canon, "norm_name"),
                salt_buckets=salt_buckets,
                max_instances=cfg.max_instances,
            )

        def canon_edges() -> DataFrame:
            return resolution_join(
                results["raw_edges"], results["canon_map"], broadcast=canon_small
            )

        # Triples: the P/R-gated artifact — per-turn grain, strength filter
        # applied (FIXTURES.md §2 golden_triples shape). The stage ALSO
        # carries (chunk_id, src_id, dst_id) so the edges merge can consume
        # this table instead of re-running canon_edges — which would scan
        # the corpus-sized extraction table and redo the normalize + two
        # resolution joins a second time (~2x the per-run join work at sf10,
        # a full extra corpus pass at 100 TB).
        def build_triples() -> DataFrame:
            return (
                canon_edges()
                .where(F.col("strength") >= cfg.min_strength)
                .select(
                    F.col("source_id").alias("conv_id"),
                    "turn_idx",
                    "chunk_id",
                    F.col("src").alias("subj"),
                    "pred",
                    F.col("dst").alias("obj"),
                    "strength",
                    "src_id",
                    "dst_id",
                )
            )

        # S9 claims (D2 + E4): resolve claim entity names -> canonical ids,
        # drop claims with zero resolved entities
        # (indexing/simple_graph_builder.py:126-147), content dedup.
        def build_claims() -> DataFrame:
            raw = results["raw_claims"]
            per_claim = (
                raw.select(
                    "source_id",
                    "chunk_id",
                    "content",
                    F.explode("entity_names").alias("ename"),
                )
                .withColumn("norm_name", norm_name_col("ename"))
                .join(canon, "norm_name")  # inner: unknown names dropped (D2)
                .groupBy("source_id", "chunk_id", "content")
                .agg(F.array_sort(F.collect_set("entity_id")).alias("entity_ids"))
            )
            return merge_ops.merge_claims(per_claim)

        # nodes / triples / claims are mutually independent given canon_map
        # (disjoint kind-filtered views over the extraction table), so their
        # builds are submitted as CONCURRENT Spark jobs: each of these
        # stages under-parallelizes in its final reduce + write, and running
        # them back-to-back leaves the cluster idle at every stage boundary
        # — the fixed tail that capped full-pipeline scaling at 4->16 cores.
        # Concurrent submission overlaps one stage's write/reduce with the
        # next one's scan (Spark's scheduler interleaves tasks from separate
        # jobs). Sequential fallback when only a prefix is requested or the
        # valve is off.
        # S8 edges (E2): pair merge over the already-resolved,
        # already-strength-filtered triples stage (same min_strength, so the
        # merge's own filter is a no-op kept for semantics).
        def build_edges() -> DataFrame:
            return merge_ops.merge_edges(
                results["triples"].select(
                    "src_id",
                    "dst_id",
                    F.col("subj").alias("src"),
                    F.col("obj").alias("dst"),
                    "pred",
                    "strength",
                    F.col("conv_id").alias("source_id"),
                    "chunk_id",
                ),
                min_strength=cfg.min_strength,
                salt_buckets=salt_buckets,
                max_instances=cfg.max_instances,
            )

        run_claims = until not in ("nodes", "triples", "edges")
        if cfg.concurrent_stages and run_claims:
            from concurrent.futures import ThreadPoolExecutor

            # edges depends ONLY on the triples stage: chain it behind
            # triples in the same worker so it overlaps the nodes/claims
            # stragglers instead of waiting for all three — the stage
            # timeline was max(nodes, triples, claims) + edges; now it is
            # max(nodes, claims, triples + edges) (~1s at sf1 local[32]).
            def _triples_then_edges():
                results["triples"] = mat("triples", build_triples)
                return mat("edges", build_edges)

            with ThreadPoolExecutor(3, thread_name_prefix="kg_stage") as pool:
                f_nodes = pool.submit(mat, "nodes", build_nodes)
                f_edges = pool.submit(_triples_then_edges)
                f_claims = pool.submit(mat, "claims", build_claims)
                results["nodes"] = f_nodes.result()
                results["edges"] = f_edges.result()
                results["claims"] = f_claims.result()
        else:
            results["nodes"] = mat("nodes", build_nodes)
            results["triples"] = mat("triples", build_triples)
            if run_claims:
                results["claims"] = mat("claims", build_claims)
        if until in ("nodes", "triples"):
            return results

        if "edges" not in results:
            results["edges"] = mat("edges", build_edges)
        if until in ("edges", "claims"):
            return results

        # S10 communities (F1/F2 via LPA) + stats (E5) + min-size (E6).
        # These stages are node-proportional (the deduplicated entity graph,
        # not the corpus): est_rows from the already-materialized nodes
        # stage sizes their output files, and the member-degree edge scan is
        # computed ONCE and shared by stats and summaries.
        graph_rows = manifest.get("nodes", {}).get("rows", 0) * cfg.levels

        # Size shuffle partitions to the GRAPH, not the corpus, for every
        # post-claims stage: these joins/windows move node- and
        # edge-proportional rows (the deduplicated entity graph), and
        # corpus-sized partition counts just multiply per-task scheduling
        # overhead across their many small exchanges (same stance as the
        # linking loop's loop_shuffle_partitions). Output checksums are
        # partition-count-invariant (measured at local[2..32]).
        from graphrag_litex_spark.operators.iterutils import loop_shuffle_partitions

        graph_state = max(
            graph_rows, manifest.get("edges", {}).get("rows", 0), 1
        )
        with loop_shuffle_partitions(self.spark, graph_state):
            return self._run_graph_stages(results, manifest, mat, until, graph_rows)

    def _run_graph_stages(
        self, results: dict, manifest: dict, mat, until: str | None, graph_rows: int
    ) -> dict[str, DataFrame]:
        cfg = self.config
        from graphrag_litex_spark.querying.answer import EMBED_DIM, embed_summaries

        def warm_seed() -> DataFrame | None:
            # community_warm_start: the stale (pre-append) stage's level-0
            # labels seed level-0 LPA; community_id = "0_<label>". Both
            # regimes read it eagerly, before the stage path is overwritten.
            prev = self._stage_path("communities")
            if not (
                cfg.community_warm_start
                and os.path.exists(os.path.join(prev, "_SUCCESS"))
            ):
                return None
            return (
                _read_stage(self.spark, prev, manifest.get("communities"))
                .where(F.col("level") == 0)
                .select("entity_id", F.expr("substring(community_id, 3)").alias("label"))
            )

        # Regime valve, decided from the manifest the build already wrote (no
        # Spark job): a graph whose nodes + edges fit under the community
        # valve builds all four tables driver-locally from one collect
        # (comm_ops.graph_tail); larger graphs run the Spark operators. The
        # scope owns what the stages share (the warm seed, the member
        # degrees) while they run.
        state_rows = sum(manifest.get(s, {}).get("rows", 0) for s in ("nodes", "edges"))
        scope = checkpoint_scope()
        if state_rows <= DRIVER_THRESHOLD:
            tail: dict[str, DataFrame] = {}

            def local_table(name: str) -> DataFrame:
                # The first table asked for is "communities" unless that
                # stage resumed from disk; the others then derive from the
                # stored membership.
                if not tail:
                    fresh = name == "communities"
                    tail.update(
                        comm_ops.graph_tail(
                            results["nodes"],
                            results["edges"],
                            levels=cfg.levels,
                            min_size=cfg.min_community_size,
                            lpa_iters=cfg.lpa_iters,
                            dim=EMBED_DIM,
                            seed_labels=warm_seed() if fresh else None,
                            communities=None if fresh else results["communities"],
                        )
                    )
                return tail[name]

            build = {
                name: (lambda name=name: local_table(name))
                for name in comm_ops.TAIL_TABLES
            }
        else:

            def build_communities() -> DataFrame:
                seed = warm_seed()
                return comm_ops.detect_communities(
                    results["nodes"],
                    results["edges"],
                    levels=cfg.levels,
                    min_size=cfg.min_community_size,
                    lpa_iters=cfg.lpa_iters,
                    seed_labels=None if seed is None else scope.checkpoint(seed),
                )

            # The member-degree edge scan is computed ONCE and shared by
            # stats and summaries.
            @cache
            def member_deg() -> DataFrame:
                return scope.checkpoint(
                    comm_ops.member_edge_degrees(results["communities"], results["edges"])
                )

            build = {
                "communities": build_communities,
                "community_stats": lambda: comm_ops.community_stats(
                    results["communities"], results["edges"], degrees=member_deg()
                ),
                # S11 summaries: deterministic pluggable summarizer (reference
                # indexing/summarizer.py; LLM calls replaced by column
                # expressions).
                "summaries": lambda: comm_ops.summarize_communities(
                    results["communities"],
                    results["community_stats"],
                    results["nodes"],
                    results["edges"],
                    degrees=member_deg(),
                ),
                "summary_embeddings": lambda: embed_summaries(results["summaries"]),
            }

        with scope:
            results["communities"] = mat("communities", build["communities"], graph_rows)
            results["community_stats"] = mat(
                "community_stats", build["community_stats"], graph_rows
            )
            if until in ("communities", "community_stats"):
                return results
            results["summaries"] = mat("summaries", build["summaries"], graph_rows)
            if until == "summaries":
                return results
            # S12 summary_embeddings (A5/§4, reference embedding cache
            # utils/embedding_utils.py:52-63): the query path passes this
            # frame to answer_question/answer_questions so the embedding
            # runs once per BUILD, not once per question served.
            results["summary_embeddings"] = mat(
                "summary_embeddings", build["summary_embeddings"], graph_rows
            )
        return results


def run_pipeline(
    spark: SparkSession,
    transcripts_path: str,
    out_dir: str,
    config: PipelineConfig | None = None,
    resume: bool = True,
    until: str | None = None,
) -> dict[str, DataFrame]:
    return KGPipeline(spark, transcripts_path, out_dir, config).run(resume=resume, until=until)
