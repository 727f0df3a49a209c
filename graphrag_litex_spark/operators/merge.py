"""E1/E2/E4/E7: dedup-merge aggregations (the reference's upsert loops as
order-free hash aggregations).

Reference semantics replicated (SURVEY.md §1.3):
  * Entity merge (models/knowledge_graph.py:25-45 + models/entity.py:40-64):
    identity = case-insensitive name (here: canonical id after linking);
    longer description wins; instances/claims unioned.
  * Relationship merge (models/knowledge_graph.py:47-68 +
    models/relationship.py:35-57): identity = ordered (src, dst); longer
    description wins; strength averaged (order-free avg over the group, see
    SURVEY.md §1.3 note on the reference's pairwise running average).
  * Claim merge (models/knowledge_graph.py:70-101): identity =
    case-insensitive content; entity_ids/instances unioned.
  * Provenance union (models/entity.py:55-57 etc.): set-union of
    (source_id, chunk_id) structs = array_distinct(flatten(collect_list)).

Ties on description length are broken lexicographically (the reference is
insertion-order-dependent there; we need determinism) via a sortable
``lpad(length)||description`` key that works identically in Spark and
DuckDB (arg_max), keeping the oracle contract exact.

Skew: hot entities (a few names in >10% of turns, FIXTURES.md §1) make the
groupBy keys skewed. Spark's hash aggregate already does map-side partial
aggregation; for the reduce side the node and edge merges always pre-aggregate
on (key, salt) before the final per-key merge, bounding any single reducer's
input to ~1/salt_buckets of a hot key's data (SURVEY.md §4). The caller owns
the bucket count (the pipeline scales it with the cluster); one bucket is
a plain two-phase aggregation with the same result.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _desc_key(col: str = "description") -> F.Column:
    return F.concat(F.lpad(F.length(col).cast("string"), 6, "0"), F.col(col))


def _salted_merge(
    rows: DataFrame,
    keys: list[str],
    partial_aggs,
    final_aggs,
    salt_buckets: int,
    max_instances: int | None,
) -> DataFrame:
    """The node and edge merges' two-phase salted aggregation of rows
    carrying (source_id, chunk_id) provenance: phase 1 groups on ``keys`` +
    salt, phase 2 on ``keys``. ``partial_aggs(instances)`` (the bucket's
    distinct instance set) and ``final_aggs(n_instances, instances)`` (the
    exact distinct count, the capped sample) return a side's own
    aggregates with the shared provenance columns in place, in output
    order."""
    cap = lambda c: F.slice(c, 1, max_instances) if max_instances else c  # noqa: E731
    partial = (
        rows.withColumn("instance", F.struct("source_id", "chunk_id"))
        .withColumn("_salt", F.pmod(F.xxhash64(F.col("chunk_id")), F.lit(salt_buckets)))
        .groupBy(*keys, "_salt")
        .agg(*partial_aggs(F.collect_set("instance").alias("instances")))
        # Cap each bucket's stored sample BEFORE the final shuffle: a
        # hot key with millions of rows would otherwise ship its
        # entire provenance set through the reduce even though only
        # max_instances survive the final select. n_in_bucket records
        # the true distinct count first, keeping n_instances exact
        # (buckets are globally disjoint — see below).
        .withColumn("n_in_bucket", F.size("instances"))
        .withColumn("instances", cap(F.col("instances")))
    )
    # salt = hash(chunk_id), so a given (source_id, chunk_id) instance
    # lands in exactly one salt bucket: the partial collect_sets are
    # globally disjoint — exact distinct count by summing bucket set
    # sizes, and flatten needs NO final distinct (an array_distinct
    # over struct arrays is O(n²) and dominated the whole pipeline
    # on hot entities before this was removed). The stored sample is
    # capped WITHOUT sorting: array_sort over 100k+-element struct
    # arrays for hot keys tripled the stage cost; instances are set
    # semantics, sample order unspecified (counts stay exact).
    return partial.groupBy(*keys).agg(
        *final_aggs(
            F.sum("n_in_bucket").alias("n_instances"),
            cap(F.flatten(F.collect_list("instances"))).alias("instances"),
        )
    )


def merge_nodes(
    mentions: DataFrame,
    salt_buckets: int = 16,
    max_instances: int | None = 10_000,
) -> DataFrame:
    """S7 nodes from canonicalized mentions.

    Input columns: entity_id, canonical, norm_name, name, type, description,
    source_id, chunk_id. Output: one row per canonical entity (E1).

    ``n_instances`` is always EXACT; the stored ``instances`` array is
    capped at ``max_instances`` (an unordered sample) — hot entities at
    corpus scale would otherwise carry O(corpus) provenance arrays in one
    row (the full per-mention provenance remains queryable in the mentions
    stage table). ``max_instances=None`` keeps everything (reference
    semantics, models/entity.py:55-57).
    """
    final = _salted_merge(
        mentions,
        ["entity_id", "canonical"],
        lambda instances: [
            F.min(F.when(F.col("norm_name") == F.col("canonical"), F.col("name"))).alias(
                "name"
            ),
            F.min("type").alias("type"),
            F.max_by("description", _desc_key()).alias("description"),
            instances,
            F.count(F.lit(1)).alias("n_mentions"),
        ],
        lambda n_instances, instances: [
            # partial "name" is min over canonical-form mentions in the salt
            # bucket (NULL when absent); min() skips NULLs on the final pass.
            F.min("name").alias("name"),
            F.min("type").alias("type"),
            F.max_by("description", _desc_key()).alias("description"),
            n_instances,
            instances,
            F.sum("n_mentions").alias("n_mentions"),
        ],
        salt_buckets,
        max_instances,
    )
    return final.select(
        "entity_id",
        F.col("canonical").alias("canonical_name"),
        "name",
        "type",
        "description",
        "instances",
        F.col("n_instances").cast("long").alias("n_instances"),
        "n_mentions",
    )


def merge_edges(
    canon_edges: DataFrame,
    min_strength: float = 0.5,
    salt_buckets: int = 16,
    max_instances: int | None = 10_000,
) -> DataFrame:
    """S8 edges: strength filter BEFORE merge (reference applies the filter
    at insert time, indexing/simple_graph_builder.py:83-86), then pair-merge
    (E2): avg strength, longest pred, provenance union.

    Input columns: src_id, dst_id, src, dst, pred, strength, source_id,
    chunk_id.
    """
    final = _salted_merge(
        canon_edges.where(F.col("strength") >= min_strength),
        ["src_id", "dst_id", "src", "dst"],
        lambda instances: [
            F.max_by("pred", _desc_key("pred")).alias("pred"),
            F.sum("strength").alias("_s_sum"),
            F.count(F.lit(1)).alias("_s_cnt"),
            instances,
        ],
        lambda n_instances, instances: [
            F.max_by("pred", _desc_key("pred")).alias("pred"),
            (F.sum("_s_sum") / F.sum("_s_cnt")).alias("strength"),
            n_instances,
            instances,
            F.sum("_s_cnt").alias("n_obs"),
        ],
        salt_buckets,
        max_instances,
    )
    return final.select(
        "src_id",
        "dst_id",
        "src",
        "dst",
        "pred",
        "strength",
        "instances",
        F.col("n_instances").cast("long").alias("n_instances"),
        "n_obs",
    )


def merge_claims(canon_claims: DataFrame) -> DataFrame:
    """S9 claims: case-insensitive content dedup (E4).

    Input columns: content, entity_ids array<string>, source_id, chunk_id.
    """
    return (
        canon_claims.withColumn("instance", F.struct("source_id", "chunk_id"))
        .groupBy(F.lower(F.col("content")).alias("content_key"))
        .agg(
            F.min("content").alias("content"),
            F.array_sort(F.array_distinct(F.flatten(F.collect_list("entity_ids")))).alias(
                "entity_ids"
            ),
            F.array_sort(F.collect_set("instance")).alias("instances"),
            F.count(F.lit(1)).alias("n_obs"),
        )
        .withColumn("claim_id", F.sha2(F.col("content_key"), 256).substr(1, 32))
        .select("claim_id", "content", "entity_ids", "instances", "n_obs")
    )
