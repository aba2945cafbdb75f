"""Image-caption alignment gate (multimodal/alignment.py): the stand-in
encoders' algebra, the zero-vector convention for missing captions, a
pure-Python recompute of the score on a known row, and funnel-counter
consistency. The Spark↔DuckDB value parity is the driver's job
(pair_alignment oracle row); these tests pin the semantics themselves.
"""

from __future__ import annotations

import hashlib
import math

import pytest
from pyspark.sql import functions as F

from webcrawler_spark.multimodal.alignment import (
    DIMS,
    alignment_funnel,
    pair_alignment,
)


def _py_hash60(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def _py_score(caption: str | None, phash: int, dims: int = DIMS) -> float:
    toks = [t for t in __import__("re").split(r"[^a-z0-9]+", (caption or "").lower()) if t]
    tv = [
        sum(1 if (_py_hash60(t) >> d) & 1 else -1 for t in toks)
        for d in range(dims)
    ]
    iv = [1 if (phash >> d) & 1 else -1 for d in range(dims)]
    n2t = sum(x * x for x in tv)
    if n2t == 0:
        return 0.0
    dot = sum(a * b for a, b in zip(tv, iv))
    return round(dot / math.sqrt(n2t * sum(x * x for x in iv)), 6)


def _pairs_df(spark, rows):
    return spark.createDataFrame(rows, "image_id long, caption string, phash long")


def test_null_and_empty_captions_score_zero(spark):
    out = pair_alignment(
        _pairs_df(spark, [(1, None, 12345), (2, "", 12345), (3, "   .,;", 12345)])
    ).collect()
    for r in out:
        assert r.align_score == 0.0
        assert r.aligned is False


def test_score_bounded_and_matches_python_recompute(spark):
    rows = [
        (1, "a red bicycle on cobblestones", 0xDEADBEEF),
        (2, "stock photo of a product", 0x12345),
        (3, "x", 0x7FFFFFFFFFFFFFF),
        (4, "one one one one", 0),  # repeated token: |tv| grows, cosine fixed
    ]
    out = {r.image_id: r for r in pair_alignment(_pairs_df(spark, rows)).collect()}
    for image_id, caption, phash in rows:
        got = out[image_id].align_score
        assert -1.0 <= got <= 1.0
        assert got == pytest.approx(_py_score(caption, phash), abs=1e-9)
        assert out[image_id].aligned == (got > 0.0)


def test_repeated_token_cosine_scale_invariant(spark):
    # cosine ignores vector magnitude: "cat" and "cat cat cat" embed as
    # parallel vectors, so the score is identical
    out = {
        r.image_id: r.align_score
        for r in pair_alignment(
            _pairs_df(spark, [(1, "cat", 99), (2, "cat cat cat", 99)])
        ).collect()
    }
    assert out[1] == out[2]


def test_funnel_counts_consistent(spark):
    rows = [
        (1, None, 5),
        (2, "a blue boat", 5),
        (3, "another caption here", 77),
        (4, "", 5),
    ]
    f = alignment_funnel(_pairs_df(spark, rows)).collect()[0]
    per_row = pair_alignment(_pairs_df(spark, rows)).collect()
    assert f.n_input == 4
    assert f.n_scored == sum(1 for r in per_row if r.align_score != 0.0)
    assert f.n_aligned == sum(1 for r in per_row if r.aligned)


def test_threshold_is_strict(spark):
    # a caption/phash pair engineered to score exactly 0.0 must not pass
    # the strict > 0.0 gate; NULL caption gives exactly that
    out = pair_alignment(_pairs_df(spark, [(1, None, 123)])).collect()[0]
    assert out.align_score == 0.0 and out.aligned is False


def test_cross_modal_topk_structure_and_scores(spark):
    from webcrawler_spark.multimodal.alignment import cross_modal_topk

    pairs = _pairs_df(spark, [
        (i, f"caption about item {i} with words", (i * 2654435761) & ((1 << 60) - 1))
        for i in range(12)
    ])
    queries = pairs.filter("image_id < 2").select(
        F.col("image_id").alias("query_id"), "caption"
    )
    out = cross_modal_topk(pairs, queries, k=3).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r.query_id, []).append(r)
    assert set(by_q) == {0, 1}
    meta = {r.image_id: r for r in pairs.collect()}
    for qid, rows in by_q.items():
        assert [r.rank for r in sorted(rows, key=lambda r: r.rank)] == [1, 2, 3]
        assert all(r.image_id != qid for r in rows)  # self excluded
        # scores descend and match the python recompute twin (phash-embed
        # norm is exactly sqrt(dims), so the twin reuses _py_score)
        ordered = sorted(rows, key=lambda r: r.rank)
        assert all(
            a.score >= b.score for a, b in zip(ordered, ordered[1:])
        )
        qcap = meta[qid].caption
        for r in ordered:
            assert r.score == pytest.approx(
                _py_score(qcap, meta[r.image_id].phash), abs=1e-9
            )


def _duckdb_scores(rows):
    import duckdb
    import pandas as pd

    from webcrawler_spark.multimodal.alignment import alignment_score_duckdb

    con = duckdb.connect()
    con.register(
        "p", pd.DataFrame(rows, columns=["image_id", "caption", "phash"])
    )
    return dict(con.execute(
        "SELECT image_id, " + alignment_score_duckdb("caption", "phash")
        + " FROM p"
    ).fetchall())


def test_one_pass_score_equals_duckdb_mirror_on_edge_captions(spark):
    # the one-pass accumulator + fused dot/norm fold must reproduce the
    # per-dimension DuckDB mirror exactly, including the zero-vector
    # cases and captions with more distinct tokens than dimensions
    many = " ".join(f"w{i}x" for i in range(DIMS + 9))
    rows = [
        (1, None, 0x5A5A),
        (2, "", -1),
        (3, " ?!.,;-- ", 0x1234),
        (4, "bicycle", -42),
        (5, "bike bike bike bike bike", 0xFFFF),
        (6, many, 0xDEADBEEF),
        (7, many.upper() + " !!", 0),
    ]
    got = {
        r.image_id: r.align_score
        for r in pair_alignment(_pairs_df(spark, rows)).collect()
    }
    want = _duckdb_scores(rows)
    assert got == want
    assert got[1] == got[2] == got[3] == 0.0
    assert got[6] != 0.0  # non-vacuous: the long caption really scores


def test_cross_modal_topk_equals_duckdb_mirror(spark):
    import duckdb
    import pandas as pd

    from webcrawler_spark.multimodal.alignment import (
        caption_embed_duckdb,
        cross_modal_topk,
        phash_embed_duckdb,
    )

    rows = [
        (i, None if i == 5 else f"caption {i % 4} about item {i}",
         (i * 2654435761) & ((1 << 60) - 1))
        for i in range(14)
    ]
    pairs = _pairs_df(spark, rows)
    queries = pairs.filter("image_id IN (1, 2, 5)").select(
        F.col("image_id").alias("query_id"), "caption"
    )
    got = sorted(tuple(r) for r in cross_modal_topk(pairs, queries, k=4).collect())

    con = duckdb.connect()
    con.register("p", pd.DataFrame(rows, columns=["image_id", "caption", "phash"]))
    qv, iv = caption_embed_duckdb("caption", DIMS), phash_embed_duckdb("phash", DIMS)
    dot = f"list_sum(list_transform(range(1, {DIMS} + 1), j -> qv[j] * iv[j]))"
    qn2 = f"list_sum(list_transform(range(1, {DIMS} + 1), j -> qv[j] * qv[j]))"
    want = sorted(con.execute(f"""
        WITH q AS (SELECT image_id AS query_id, {qv} AS qv FROM p
                   WHERE image_id IN (1, 2, 5)),
             i AS (SELECT image_id, {iv} AS iv FROM p),
             s AS (SELECT query_id, image_id,
                          CASE WHEN {qn2} = 0 THEN 0.0
                               ELSE round({dot}::DOUBLE / sqrt(({qn2} * {DIMS})::DOUBLE), 6)
                          END AS score
                   FROM q, i WHERE image_id <> query_id)
        SELECT query_id, image_id, score,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY score DESC, image_id)::INT AS rank
        FROM s QUALIFY rank <= 4
    """).fetchall())
    assert got == want
    assert len(got) == 12
