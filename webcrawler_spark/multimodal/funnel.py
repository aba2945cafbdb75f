"""The COMPOSED image+caption curation funnel — every pair-table gate in
one pipeline, in the order a production ingest runs them:

1. alignment gate (``multimodal/alignment.py`` — the CLIP-score stand-in),
2. caption + resolution gates and banded-phash near-dup keep-one
   (``curation.pair_curation_flags``),
3. cross-modal caption dedup among survivors
   (``curation.caption_dedup`` — keep-best-resolution per caption
   fingerprint),
4. aspect-ratio bucketing + batch packing of the final survivors
   (``multimodal/bucketing.aspect_bucket_batches``).

The output keeps ONE ROW PER INPUT pair with every stage's decision plus
the batch-plan columns (NULL for non-survivors), so the funnel is fully
auditable — and, over hash-synthesized metadata, fully DuckDB-oracle-
checkable end to end (driver query ``pair_funnel``): composition is
verified, not just each stage in isolation.

Scale shape (100 TB / 10^10 pairs): stages 1-2's gates are narrow; the
shuffles are (a) the banded phash join over gated rows only, (b) the
caption-fingerprint election over stage-1+2 survivors only (one
map-side-combining aggregate per fingerprint: keep-one and group count
together, so a hot caption ships one partial row per map task), (c) ONE
(bucket, shard) exchange for packing — each stage's input is the previous stage's
survivor set, so the expensive keys move monotonically less data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..curation import caption_dedup, pair_curation_flags
from .alignment import ALIGN_THRESHOLD, DIMS, alignment_score
from .bucketing import aspect_bucket_batches

PLAN_COLS = ("bucket_id", "bucket_w", "bucket_h", "shard", "batch_id", "slot", "is_full")


def pair_funnel(
    pairs: DataFrame,
    threshold: float = ALIGN_THRESHOLD,
    dims: int = DIMS,
    batch_size: int = 8,
    shards: int = 4,
    cache_registry: list | None = None,
    **gate_kw,
) -> DataFrame:
    """One row per input pair: (image_id, align_score, aligned,
    caption_ok, gate_ok, neardup_keep, n_dup, selected, bucket_id,
    bucket_w, bucket_h, shard, batch_id, slot, is_full).

    ``selected`` = survived alignment ∧ gates ∧ phash keep-one ∧ caption
    dedup; exactly the selected rows carry non-NULL n_dup and plan
    columns. Gate stages are computed over the FULL input (identical to
    their standalone driver queries); dedup and packing see survivors
    only.

    Cache lifecycle (graph.pagerank's pattern): two intermediate frames
    persist() at genuine multi-consumer barriers (see inline comments).
    Pass ``cache_registry`` (a list) to receive them; a long-running
    service materializes (or localCheckpoint-severs) the result, then
    unpersists every registered frame so nothing stays CacheManager-
    pinned for the session. Without a registry, session teardown
    reclaims them (blocks are MEMORY_AND_DISK and LRU-evictable, so
    correctness never depends on them)."""
    fl = pair_curation_flags(pairs, **gate_kw).withColumnRenamed(
        "keep", "neardup_keep"
    )
    # alignment is a pure per-row expression — inline columns, never a
    # self-join back onto pairs (pair_alignment the driver query exists
    # for the standalone surface; here the narrow form composes free)
    scored = pairs.select(
        "image_id", "w", "h", "caption",
        alignment_score(F.col("caption"), F.col("phash"), dims).alias(
            "align_score"
        ),
    ).withColumn("aligned", F.col("align_score") > F.lit(float(threshold)))
    # persist the per-row decision frame: it feeds FOUR downstream
    # branches (survivor filter, caption dedup, packing input, final
    # left join) and its upstream contains the banded-phash CC join —
    # without a barrier Spark re-executes that whole subtree per branch.
    # The frame is narrow (id + booleans + one double + w/h/caption), the
    # shape a production pipeline would materialize to a table anyway.
    staged = scored.join(fl, "image_id").persist()
    if cache_registry is not None:
        cache_registry.append(staged)
    s1 = staged.filter(F.col("aligned") & F.col("neardup_keep"))
    winners = caption_dedup(s1.select("image_id", "w", "h", "caption")).select(
        "image_id", "n_dup"
    )
    # same reasoning: surv feeds both the packing input and the n_dup
    # carry — one persist instead of running the dedup election twice
    surv = s1.join(winners, "image_id", "inner").persist()
    if cache_registry is not None:
        cache_registry.append(surv)
    plan = aspect_bucket_batches(
        surv.select("image_id", "w", "h"), batch_size=batch_size, shards=shards
    )
    enriched = surv.select("image_id", "n_dup").join(plan, "image_id")
    return (
        staged.select(
            "image_id", "align_score", "aligned", "caption_ok", "gate_ok",
            "neardup_keep",
        )
        .join(enriched, "image_id", "left")
        .withColumn("selected", F.col("batch_id").isNotNull())
        # non-selected rows are in no batch at all: is_full=false (a real
        # boolean, not NULL — engines disagree on null-bool pandas
        # representation, and "not in a full batch" is the honest value)
        .withColumn("is_full", F.coalesce(F.col("is_full"), F.lit(False)))
        .select(
            "image_id", "align_score", "aligned", "caption_ok", "gate_ok",
            "neardup_keep", "n_dup", "selected", *PLAN_COLS,
        )
    )


def funnel_summary(funnel: DataFrame) -> DataFrame:
    """One row of stage counters over a ``pair_funnel`` result."""
    return funnel.agg(
        F.count(F.lit(1)).cast("long").alias("n_input"),
        F.sum(F.col("aligned").cast("int")).cast("long").alias("n_aligned"),
        F.sum(F.col("neardup_keep").cast("int")).cast("long").alias("n_gated"),
        F.sum((F.col("aligned") & F.col("neardup_keep")).cast("int"))
        .cast("long")
        .alias("n_stage2"),
        F.sum(F.col("selected").cast("int")).cast("long").alias("n_selected"),
        F.sum(F.col("is_full").cast("int")).cast("long").alias("n_in_full_batches"),
    )
