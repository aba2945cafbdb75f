"""DuckDB mirror of the pair funnel's stage counters.

An independent SQL restatement of ``multimodal.funnel.pair_funnel`` +
``funnel_summary`` over the pair metadata (image_id, w, h, caption,
phash): alignment gate, caption/resolution gates, banded-phash
connected components with the min-image_id keep-one, caption dedup
(keep best resolution), aspect-bucket batch packing. Only the SQL
expression builders the program publishes for its own DuckDB oracles
(alignment score, portable hash, batch plan) are shared.
"""

from __future__ import annotations

import duckdb
import pandas as pd

from webcrawler_spark.functions.hashing import PORTABLE_HASH64_DUCKDB
from webcrawler_spark.functions.text import TOKEN_SPLIT_RE
from webcrawler_spark.multimodal.alignment import ALIGN_THRESHOLD, alignment_score_duckdb
from webcrawler_spark.multimodal.bucketing import aspect_batches_duckdb

COUNTERS = ("n_input", "n_aligned", "n_gated", "n_stage2", "n_selected", "n_in_full_batches")


def funnel_counters(meta: pd.DataFrame, batch_size: int = 8, shards: int = 4) -> dict:
    toks = ("list_filter(regexp_split_to_array(lower(caption), '"
            + TOKEN_SPLIT_RE + "'), t -> t <> '')")
    cap_fp = PORTABLE_HASH64_DUCKDB.format(
        col="lower(regexp_replace(caption, '\\s{2,}', ' ', 'g'))")
    sql = f"""
        WITH RECURSIVE staged AS (
            SELECT image_id, w, h, caption, phash,
                   {alignment_score_duckdb("caption", "phash")} AS align_score,
                   coalesce(caption IS NOT NULL AND len({toks}) >= 2, FALSE)
                       AND w * h >= 4096 AS gate_ok
            FROM meta
        ),
        banded AS (
            SELECT image_id, phash, b.band, ((phash >> (b.band * 16)) & 65535) AS key
            FROM staged, (SELECT unnest([0, 1, 2, 3]) AS band) b
            WHERE gate_ok
        ),
        cand AS (
            SELECT DISTINCT l.image_id AS a, r.image_id AS b
            FROM banded l JOIN banded r
              ON l.band = r.band AND l.key = r.key AND l.image_id < r.image_id
            WHERE bit_count(xor(l.phash, r.phash)) <= 3
        ),
        edges AS (SELECT a AS u, b AS v FROM cand UNION SELECT b, a FROM cand),
        reach(node, label) AS (
            SELECT u, u FROM edges
            UNION
            SELECT e.v, r.label FROM reach r JOIN edges e ON e.u = r.node
        ),
        lab AS (SELECT node, min(label) AS cluster_id FROM reach GROUP BY node),
        flags AS (
            SELECT s.*, s.align_score > {float(ALIGN_THRESHOLD)} AS aligned,
                   s.gate_ok AND coalesce(l.node = l.cluster_id, TRUE) AS neardup_keep
            FROM staged s LEFT JOIN lab l ON l.node = s.image_id
        ),
        keyed AS (
            SELECT image_id, w, h,
                   CASE WHEN length(caption) > 0 THEN {cap_fp} END AS caption_fp,
                   w::BIGINT * h::BIGINT AS pixels
            FROM flags WHERE aligned AND neardup_keep
        ),
        ranked AS (
            SELECT image_id, w, h, row_number() OVER (
                       PARTITION BY caption_fp ORDER BY pixels DESC, image_id) AS rn
            FROM keyed WHERE caption_fp IS NOT NULL
        ),
        surv AS (
            SELECT image_id, w, h FROM ranked WHERE rn = 1
            UNION ALL
            SELECT image_id, w, h FROM keyed WHERE caption_fp IS NULL
        ),
        plan AS (WITH {aspect_batches_duckdb("surv", batch_size=batch_size, shards=shards)})
        SELECT count(*) AS n_input,
               count(*) FILTER (WHERE aligned) AS n_aligned,
               count(*) FILTER (WHERE neardup_keep) AS n_gated,
               count(*) FILTER (WHERE aligned AND neardup_keep) AS n_stage2,
               (SELECT count(*) FROM plan) AS n_selected,
               (SELECT count(*) FROM plan WHERE is_full) AS n_in_full_batches
        FROM flags
    """
    con = duckdb.connect()
    try:
        con.register("meta", meta)
        row = con.execute(sql).fetchone()
    finally:
        con.close()
    return dict(zip(COUNTERS, (int(v) for v in row)))
