"""Image-caption alignment scoring and gating over the input_hint pair
table — the CLIP-score filter every web-scale image+caption curation
pipeline runs (LAION-5B, Schuhmann et al. 2022, §3: discard pairs whose
cosine similarity in a joint embedding space is below a threshold).

This container has no learned model, so BOTH encoders are deterministic
hash projections — honestly a stand-in, and deliberately so: the point
is the Spark-side plumbing (vector build, cosine, threshold gate, funnel
counters) which is EXACTLY the surface a real CLIP deployment keeps. The
swap points are ``caption_embed`` and the image side of
``_cosine_vs_phash``; a production system replaces them with one Arrow
``mapInPandas`` batch-inference stage emitting ``array<float>`` columns
and a plain cosine, and nothing else in the plan changes.

The stand-in encoders:

* ``caption_embed`` — each token's portable 60-bit hash votes +1/-1 per
  dimension (bit d of the hash), summed over the caption: a signed
  random-projection bag-of-words (the same construction as SimHash's
  pre-sign accumulator, Charikar 2002).
* the image side — bit d of the stored perceptual hash maps to +1/-1:
  the image's "embedding" is its phash sign pattern. It is never built
  as an array; the cosine fold reads the phash bits in place.

Because both are pure Catalyst integer arithmetic on the portable hash,
the WHOLE operator is oracle-checkable: the DuckDB mirror computes the
identical score bit-for-bit up to one final ``round(…, 6)`` on the
cosine (exact-integer dot/norms; only the last division is floating).

Scale shape (100 TB / 10^10 pairs): per-row narrow expressions only — no
shuffle, no explode, no Python. The gate runs inside the same
whole-stage-codegen span as the scan filter, so alignment screening is
embarrassingly parallel and I/O-bound, as it must be at 10^10 rows.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.hashing import PORTABLE_HASH64_DUCKDB, portable_hash64
from ..functions.text import TOKEN_SPLIT_RE, tokens

DIMS = 16
ALIGN_THRESHOLD = 0.0  # stand-in default: keep above-random agreement


def _bit_masks(dims: int) -> Column:
    """array<bigint> literal [1, 2, 4, ..., 2^(dims-1)]: lane d tests bit d."""
    return F.array(*[F.lit(1 << d).cast("long") for d in range(dims)])


def caption_embed(caption: Column, dims: int = DIMS) -> Column:
    """array<bigint> signed bag-of-words projection of the caption.

    One pass: each token is hashed ONCE, and the hash updates all
    ``dims`` lanes of an array accumulator together (``zip_with``
    against the bit-mask literal), so the expression is the same size
    for any ``dims``.

    NULL caption embeds as the zero vector (scored 0.0 below, never
    aligned) rather than propagating NULL through the gate.
    """
    masks = _bit_masks(dims)
    hashes = F.transform(tokens(F.coalesce(caption, F.lit(""))), portable_hash64)
    return F.aggregate(
        hashes,
        F.array_repeat(F.lit(0).cast("long"), dims),
        lambda acc, h: F.zip_with(
            acc, masks, lambda a, m: a + F.when(h.bitwiseAND(m) != 0, 1).otherwise(-1)
        ),
    )


def _cosine_vs_phash(tv: Column, phash: Column, dims: int) -> Column:
    """round(cosine(tv, phash sign pattern), 6), 0.0 for a zero ``tv``.

    The image vector is bit d of the phash mapped to +1/-1, so every
    lane of it is ±1: the lane product is ±tv[d], its square is
    tv[d]^2, and the image norm^2 is the constant ``dims``. One fold
    over the signed lanes yields ``dot`` and the caption norm^2 together.
    """
    signed = F.zip_with(
        tv, _bit_masks(dims),
        lambda t, m: F.when(phash.bitwiseAND(m) != 0, t).otherwise(-t),
    )
    return F.aggregate(
        signed,
        F.struct(
            F.lit(0).cast("long").alias("dot"), F.lit(0).cast("long").alias("n2t")
        ),
        lambda acc, x: F.struct(
            (acc["dot"] + x).alias("dot"), (acc["n2t"] + x * x).alias("n2t")
        ),
        lambda acc: F.when(acc["n2t"] == 0, F.lit(0.0)).otherwise(
            F.round(
                acc["dot"].cast("double")
                / F.sqrt((acc["n2t"] * F.lit(dims)).cast("double")),
                6,
            )
        ),
    )


def alignment_score(caption: Column, phash: Column, dims: int = DIMS) -> Column:
    """round(cosine(caption_embed, phash sign pattern), 6); 0.0 when the
    caption vector is zero (empty/NULL caption — the image norm is
    always sqrt(dims) > 0).

    Two higher-order passes per row: ``caption_embed`` over the tokens,
    then one fold over its ``dims`` lanes for dot and norm together."""
    return _cosine_vs_phash(caption_embed(caption, dims), phash, dims)


def pair_alignment(
    pairs: DataFrame,
    threshold: float = ALIGN_THRESHOLD,
    dims: int = DIMS,
) -> DataFrame:
    """(image_id, align_score, aligned) for every pair row.

    ``aligned`` is strict ``score > threshold`` (LAION keeps strictly
    above its 0.28 cutoff); with the stand-in encoders the default 0.0
    threshold keeps pairs whose caption hash-votes agree with the phash
    sign pattern better than chance.
    """
    return pairs.select(
        "image_id",
        alignment_score(F.col("caption"), F.col("phash"), dims).alias(
            "align_score"
        ),
    ).withColumn("aligned", F.col("align_score") > F.lit(float(threshold)))


def alignment_funnel(pairs: DataFrame, threshold: float = ALIGN_THRESHOLD) -> DataFrame:
    """One row: n_input, n_scored (non-null caption), n_aligned."""
    a = pair_alignment(pairs, threshold)
    return a.agg(
        F.count(F.lit(1)).cast("long").alias("n_input"),
        F.sum((F.col("align_score") != 0.0).cast("int"))
        .cast("long")
        .alias("n_scored"),
        F.sum(F.col("aligned").cast("int")).cast("long").alias("n_aligned"),
    )


def cross_modal_topk(
    pairs: DataFrame,
    queries: DataFrame,
    k: int = 5,
    dims: int = DIMS,
) -> DataFrame:
    """Caption-query → top-k image retrieval by the stand-in alignment
    score: (query_id, image_id, score, rank). Self-matches (query_id ==
    image_id, when queries are drawn from the corpus) are excluded, ties
    break to the smaller image_id.

    Scale shape: the query caption embeds ONCE per query on the
    broadcast side (``caption_embed``'s one-pass vector); the
    per-candidate work is the same single ``dims``-lane fold that
    ``alignment_score`` runs, reading the image row's phash bits in
    place (its vector is ±1 in every lane, norm exactly sqrt(dims)).
    The only exchange is the per-query top-k, which
    Spark executes as per-partition heaps under the window's rank filter
    with |queries|·k-bounded output. This is the brute-force baseline of
    the retrieval family (`similarity/ann.py`'s cosine twin); the
    bucketed scale path is `EmbeddingIndex` over real embeddings."""
    q = queries.select(
        "query_id", caption_embed(F.col("caption"), dims).alias("qv")
    )
    scored = (
        pairs.select("image_id", "phash")
        .crossJoin(F.broadcast(q))
        .filter(F.col("image_id") != F.col("query_id"))
        .select(
            "query_id",
            "image_id",
            _cosine_vs_phash(F.col("qv"), F.col("phash"), dims).alias("score"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("image_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .orderBy("query_id", "rank")
    )


# ---------------------------------------------------------------------------
# DuckDB mirror fragments (oracle_sql authors)
# ---------------------------------------------------------------------------

def caption_embed_duckdb(caption_expr: str, dims: int = DIMS) -> str:
    """DuckDB list expression mirroring ``caption_embed``.

    Spark's aggregate-over-empty-array returns the 0 seed; DuckDB's
    list_sum over an empty (or NULL, from a NULL caption) list returns
    NULL — coalesce restores the shared zero-vector convention.
    """
    toks = (
        f"list_filter(regexp_split_to_array(lower(coalesce({caption_expr}, '')), "
        f"'{TOKEN_SPLIT_RE}'), t -> t <> '')"
    )
    hashes = (
        "list_transform(" + toks + ", t -> "
        + PORTABLE_HASH64_DUCKDB.format(col="t") + ")"
    )
    dim_exprs = ", ".join(
        f"coalesce(list_sum(list_transform(hv, h -> CASE WHEN (h >> {d}) & 1 = 1 "
        f"THEN 1 ELSE -1 END)), 0)::BIGINT"
        for d in range(dims)
    )
    return f"(SELECT [{dim_exprs}] FROM (SELECT {hashes} AS hv))"


def phash_embed_duckdb(phash_expr: str, dims: int = DIMS) -> str:
    """DuckDB list expression for the phash sign pattern (+1/-1 per low
    bit) that ``_cosine_vs_phash`` reads in place."""
    dim_exprs = ", ".join(
        f"(CASE WHEN ({phash_expr} >> {d}) & 1 = 1 THEN 1 ELSE -1 END)::BIGINT"
        for d in range(dims)
    )
    return f"[{dim_exprs}]"


def alignment_score_duckdb(
    caption_expr: str, phash_expr: str, dims: int = DIMS
) -> str:
    """DuckDB expression computing exactly ``alignment_score``."""
    toks = (
        f"list_filter(regexp_split_to_array(lower(coalesce({caption_expr}, '')), "
        f"'{TOKEN_SPLIT_RE}'), t -> t <> '')"
    )
    hashes = "list_transform(" + toks + ", t -> " + PORTABLE_HASH64_DUCKDB.format(col="t") + ")"
    tv = ", ".join(
        f"coalesce(list_sum(list_transform(hv, h -> CASE WHEN (h >> {d}) & 1 = 1 "
        f"THEN 1 ELSE -1 END)), 0)::BIGINT"
        for d in range(dims)
    )
    iv = ", ".join(
        f"(CASE WHEN (ph >> {d}) & 1 = 1 THEN 1 ELSE -1 END)::BIGINT"
        for d in range(dims)
    )
    dot = " + ".join(f"tv[{d + 1}] * iv[{d + 1}]" for d in range(dims))
    n2t = " + ".join(f"tv[{d + 1}] * tv[{d + 1}]" for d in range(dims))
    n2i = " + ".join(f"iv[{d + 1}] * iv[{d + 1}]" for d in range(dims))
    # one nested-subquery expression so callers can drop it into a SELECT
    return f"""(
        SELECT CASE WHEN n2t = 0 THEN 0.0
                    ELSE round(dot / sqrt((n2t * n2i)::DOUBLE), 6) END
        FROM (SELECT ({dot})::BIGINT AS dot, ({n2t})::BIGINT AS n2t,
                     ({n2i})::BIGINT AS n2i
              FROM (SELECT [{tv}] AS tv, [{iv}] AS iv
                    FROM (SELECT {hashes} AS hv, {phash_expr} AS ph)))
    )"""
