"""Curation operators (webcrawler_spark/curation.py).

The text-side funnel/split/histogram are oracle-checked value-for-value
by the driver (tools/check_contract.py mirrors it); here we pin the
PROPERTIES the oracle can't express — determinism across runs,
append-stability of the split, funnel monotonicity — plus the image-pair
funnel against an independent brute-force union-find oracle (DuckDB
cannot decode images, so this test IS that query's oracle).
"""

from __future__ import annotations

import hashlib

import pandas as pd
import pytest
from pyspark.sql import functions as F

from webcrawler_spark.curation import (
    SAMPLE_BUCKETS,
    assign_split,
    curate_pairs,
    curation_funnel,
    hash_bucket,
    pair_curation_funnel,
    pow2_bin,
    stratified_keep,
    token_histogram,
    train_split,
)


def _py_bucket(salt: str, key) -> int:
    """Driver-side twin of hash_bucket: md5-derived 60-bit hash mod 1e4."""
    h = hashlib.md5(f"{salt}|{key}".encode()).hexdigest()
    return int(h[:15], 16) % SAMPLE_BUCKETS


# ---------------------------------------------------------------------------
# hash buckets / sampling / split
# ---------------------------------------------------------------------------

def test_hash_bucket_matches_python_twin(spark):
    df = spark.range(0, 500).select(
        "id", hash_bucket(F.col("id"), "sample").alias("b")
    )
    for row in df.collect():
        assert row.b == _py_bucket("sample", row.id)


def test_split_deterministic_append_stable_and_disjoint(spark):
    small = spark.range(0, 300).select(
        "id", assign_split(F.col("id")).alias("split"))
    grown = spark.range(0, 1000).select(
        "id", assign_split(F.col("id")).alias("split"))
    s = {r.id: r.split for r in small.collect()}
    g = {r.id: r.split for r in grown.collect()}
    # append-stable: adding rows never moves an existing row's split
    assert all(g[i] == s[i] for i in s)
    # exhaustive + disjoint by construction (single CASE); sanity on mass
    counts = pd.Series(list(g.values())).value_counts()
    assert set(counts.index) <= {"train", "val", "test"}
    assert counts["train"] > counts["val"] > 0
    assert counts["test"] > 0
    # ~5% each at 10000 rows would be exact in expectation; at 1000 allow wide
    assert 20 <= counts["val"] <= 90 and 20 <= counts["test"] <= 90


def test_stratified_keep_rates(spark):
    df = spark.range(0, 4000).select(
        "id", F.when(F.col("id") % 2 == 0, "en").otherwise("sl").alias("lang"))
    kept = df.filter(
        stratified_keep(F.col("id"), F.col("lang"), {"en": 5000}, 10_000)
    ).groupBy("lang").count().collect()
    by = {r.lang: r["count"] for r in kept}
    assert by["sl"] == 2000  # rate 10000 keeps everything
    # exact expectation = deterministic hash population, not a sample: pin
    # the measured value's neighborhood (binomial 3-sigma around p=0.5)
    assert 900 <= by["en"] <= 1100
    # and the decision is recomputable row-by-row by the python twin
    kept_en = {
        r.id
        for r in df.filter(
            (F.col("lang") == "en")
            & stratified_keep(F.col("id"), F.col("lang"), {"en": 5000}, 10_000)
        ).collect()
    }
    expect_en = {
        i for i in range(0, 4000, 2) if _py_bucket("sample", i) < 5000}
    assert kept_en == expect_en


# ---------------------------------------------------------------------------
# histogram
# ---------------------------------------------------------------------------

def test_pow2_bin_boundaries(spark):
    vals = [0, 1, 2, 3, 4, 15, 16, 17, 63, 64, 65535, 65536, 1 << 20]
    df = spark.createDataFrame([(v,) for v in vals], "n int").select(
        "n", pow2_bin(F.col("n")).alias("b"))
    got = {r.n: r.b for r in df.collect()}
    exp = {0: 0, 1: 1, 2: 2, 3: 2, 4: 4, 15: 8, 16: 16, 17: 16,
           63: 32, 64: 64, 65535: 32768, 65536: 65536, 1 << 20: 65536}
    assert got == exp


def test_token_histogram_conserves_mass(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    hist = token_histogram(docs).toPandas()
    assert hist["n_docs"].sum() == docs.count()
    from webcrawler_spark.functions.text import token_count
    total = docs.select(F.sum(token_count(F.col("text")))).collect()[0][0]
    assert hist["total_tokens"].sum() == total
    assert list(hist["bin_lo"]) == sorted(hist["bin_lo"])


# ---------------------------------------------------------------------------
# text funnel
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def corpus(spark, sf_dir):
    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text", "lang")
    clones = d.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + F.lit(1_000_000)).alias("doc_id"), "text", "lang")
    return d.unionByName(clones).cache()


def test_funnel_monotone_and_consistent_with_split(corpus):
    rates = {"en": 5000, "zh": 2500}
    funnel = {r.stage: (r.n_docs, r.n_tokens)
              for r in curation_funnel(corpus, rates).collect()}
    assert list(funnel) == ["0_raw", "1_exact_dedup", "2_quality_gate",
                            "3_lang_sampled"]
    docs = [funnel[s][0] for s in funnel]
    toks = [funnel[s][1] for s in funnel]
    assert docs == sorted(docs, reverse=True) and docs[-1] > 0
    assert toks == sorted(toks, reverse=True)
    assert funnel["0_raw"][0] == corpus.count()
    # every clone is an exact dup: dedup stage drops exactly the clones
    n_clones = corpus.filter(F.col("doc_id") >= 1_000_000).count()
    assert funnel["1_exact_dedup"][0] == funnel["0_raw"][0] - n_clones
    # the split frame IS the last funnel stage
    split = train_split(corpus, rates)
    assert split.count() == funnel["3_lang_sampled"][0]
    agg = split.agg(F.sum("n_tokens")).collect()[0][0]
    assert agg == funnel["3_lang_sampled"][1]
    # determinism: second run, same assignment
    again = train_split(corpus, rates)
    a = {r.doc_id: r.split for r in split.collect()}
    b = {r.doc_id: r.split for r in again.collect()}
    assert a == b


def test_funnel_survivors_pass_every_gate(corpus):
    rates = {"en": 5000, "zh": 2500}
    from webcrawler_spark.curation import curation_flags
    flags = curation_flags(corpus, rates).toPandas()
    # implication chain keep_sampled => keep_quality => keep_dedup
    assert (~flags.keep_sampled | flags.keep_quality).all()
    assert (~flags.keep_quality | flags.keep_dedup).all()
    kept = flags[flags.keep_sampled]
    assert (kept.quality >= 0.75).all()
    # first-writer: keep_dedup marks exactly one row per fingerprint, the min id
    winners = flags[flags.keep_dedup].groupby("fp")["id"].agg(["count", "min"])
    assert (winners["count"] == 1).all()
    mins = flags.groupby("fp")["id"].min()
    assert (winners["min"] == mins.loc[winners.index]).all()


# ---------------------------------------------------------------------------
# incremental curation: chunking invariance, resume, order contract
# ---------------------------------------------------------------------------

def _neardup_corpus(spark, sf_dir):
    """documents + exact clones (every 7th, ids +1e6) + near-dup twins
    (every 11th, ids +2e6, four tokens appended — Jaccard >= 0.8 for
    longer docs, below for short ones: both populations exercised)."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text", "lang")
    clones = d.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + F.lit(1_000_000)).alias("doc_id"), "text", "lang")
    twins = d.filter(F.col("doc_id") % 11 == 0).select(
        (F.col("doc_id") + F.lit(2_000_000)).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" qq ww ee rr")).alias("text"),
        "lang")
    return d.unionByName(clones).unionByName(twins)


def _rows(df):
    return sorted(map(tuple, df.collect()))


def test_incremental_curation_chunking_invariant(spark, sf_dir, tmp_path):
    from webcrawler_spark.curation import (
        IncrementalCurator, pairwise_precedent_curation)

    rates = {"en": 5000, "zh": 2500}
    corpus = _neardup_corpus(spark, sf_dir).cache()
    twin = _rows(pairwise_precedent_curation(corpus, rates))
    assert twin, "twin curation must keep something"

    # one batch
    c1 = IncrementalCurator(spark, str(tmp_path / "one"), rates)
    got1 = _rows(c1.add_batch(corpus))
    assert got1 == twin

    # three id-ordered batches, with a REOPEN (fresh instance, same root)
    # before the last — carried state must fully reconstruct the pipeline
    chunks = [
        corpus.filter(F.col("doc_id") < 1_000_000),
        corpus.filter((F.col("doc_id") >= 1_000_000) & (F.col("doc_id") < 2_000_000)),
        corpus.filter(F.col("doc_id") >= 2_000_000),
    ]
    root3 = str(tmp_path / "three")
    a = IncrementalCurator(spark, root3, rates)
    out = _rows(a.add_batch(chunks[0])) + _rows(a.add_batch(chunks[1]))
    b = IncrementalCurator(spark, root3, rates)  # resume from disk
    out += _rows(b.add_batch(chunks[2]))
    assert sorted(out) == twin

    # the near-dup stage is non-vacuous: some twins were dropped
    twin_ids = {r[0] for r in twin}
    n_twins_kept = sum(1 for i in twin_ids if i >= 2_000_000)
    n_twins_total = corpus.filter(F.col("doc_id") >= 2_000_000).count()
    assert n_twins_kept < n_twins_total

    # exact stage non-vacuous: no clone survives (all are exact dups)
    assert not any(1_000_000 <= i < 2_000_000 for i in twin_ids)

    # id-order contract is enforced
    with pytest.raises(ValueError, match="high-water"):
        b.add_batch(chunks[0])

    # empty batch is a no-op
    assert _rows(b.add_batch(corpus.filter(F.col("doc_id") < 0))) == []


def test_incremental_curation_compaction_invariant(spark, sf_dir, tmp_path):
    """Mid-stream compact() of the curator's carried state (fp index +
    NearDupIndex dirs) shrinks file counts and changes NO decision: the
    3-chunk ingest with a compaction between batches still equals the
    whole-corpus twin."""
    from webcrawler_spark.curation import (
        IncrementalCurator, pairwise_precedent_curation)
    from webcrawler_spark.storage.compaction import n_data_files

    rates = {"en": 5000, "zh": 2500}
    corpus = _neardup_corpus(spark, sf_dir).cache()
    twin = _rows(pairwise_precedent_curation(corpus, rates))
    chunks = [
        corpus.filter(F.col("doc_id") < 1_000_000),
        corpus.filter((F.col("doc_id") >= 1_000_000) & (F.col("doc_id") < 2_000_000)),
        corpus.filter(F.col("doc_id") >= 2_000_000),
    ]
    c = IncrementalCurator(spark, str(tmp_path / "croot"), rates)
    out = _rows(c.add_batch(chunks[0])) + _rows(c.add_batch(chunks[1]))
    before = (n_data_files(c._fp_dir)
              + n_data_files(f"{c.root}/neardup/bands")
              + n_data_files(f"{c.root}/neardup/shingles"))
    stats = c.compact()
    after = (n_data_files(c._fp_dir)
             + n_data_files(f"{c.root}/neardup/bands")
             + n_data_files(f"{c.root}/neardup/shingles"))
    assert after < before and after == sum(stats.values())
    out += _rows(c.add_batch(chunks[2]))
    assert sorted(out) == twin


def test_stream_curation_matches_batch(spark, sf_dir, tmp_path):
    """Structured-Streaming front end (readStream → foreachBatch →
    add_batch): draining an id-ordered file feed in two separate
    availableNow passes — with a curator reopen and a new file landing
    between them — yields exactly the whole-corpus batch curation, and a
    replayed/idle pass ingests nothing twice."""
    import os

    from webcrawler_spark.curation import (
        IncrementalCurator, pairwise_precedent_curation)
    from webcrawler_spark.streaming.curation import stream_curation

    rates = {"en": 5000, "zh": 2500}
    corpus = _neardup_corpus(spark, sf_dir).cache()
    twin = _rows(pairwise_precedent_curation(corpus, rates))

    feed = tmp_path / "feed"
    feed.mkdir()
    chunks = [
        corpus.filter(F.col("doc_id") < 1_000_000),
        corpus.filter((F.col("doc_id") >= 1_000_000) & (F.col("doc_id") < 2_000_000)),
        corpus.filter(F.col("doc_id") >= 2_000_000),
    ]

    def drop(i, df):
        # one plain parquet file per drop, mtimes strictly ascending so the
        # file source's oldest-first ordering matches the id order
        p = str(feed / f"part_{i}.parquet")
        df.toPandas().to_parquet(p, index=False)
        os.utime(p, (1_000_000_000 + i, 1_000_000_000 + i))

    croot, out_dir, ckpt = (
        str(tmp_path / "croot"), str(tmp_path / "out"), str(tmp_path / "ckpt"))

    # pass 1: two files on disk → two micro-batches
    drop(0, chunks[0])
    drop(1, chunks[1])
    cur = IncrementalCurator(spark, croot, rates)
    assert stream_curation(spark, str(feed), cur, out_dir, ckpt) == 2

    # a third file lands; resume with a FRESH curator instance and the same
    # checkpoint — only the new file is ingested
    drop(2, chunks[2])
    cur2 = IncrementalCurator(spark, croot, rates)
    assert stream_curation(spark, str(feed), cur2, out_dir, ckpt) == 1

    got = _rows(
        spark.read.parquet(out_dir).select("doc_id", "lang", "n_tokens", "split"))
    assert got == twin

    # idle pass: nothing new → nothing ingested, output unchanged
    cur3 = IncrementalCurator(spark, croot, rates)
    assert stream_curation(spark, str(feed), cur3, out_dir, ckpt) == 0
    assert _rows(
        spark.read.parquet(out_dir).select("doc_id", "lang", "n_tokens", "split")
    ) == twin


# ---------------------------------------------------------------------------
# shard packing
# ---------------------------------------------------------------------------

def test_pack_shards_contiguous_and_budget_bounded(corpus):
    from webcrawler_spark.curation import pack_shards

    rates = {"en": 5000, "zh": 2500}
    budget = 2000
    packed = pack_shards(train_split(corpus, rates), budget).toPandas()
    assert packed.shard_id.notna().all()
    for split, grp in packed.groupby("split"):
        grp = grp.sort_values("doc_id").reset_index(drop=True)
        # shard ids are non-decreasing in doc order and start at 0
        assert grp.shard_id.iloc[0] == 0
        assert (grp.shard_id.diff().dropna() >= 0).all()
        # recompute the rule: doc lands where its exclusive prefix starts
        prefix = grp.n_tokens.cumsum() - grp.n_tokens
        assert (grp.shard_id == prefix // budget).all()
        # every shard except possibly the last holds >= budget tokens
        # only by overflowing: token mass per shard < budget + max doc
        per = grp.groupby("shard_id").n_tokens.sum()
        assert (per < budget + grp.n_tokens.max()).all()


def test_pack_sequences_tiles_exactly(corpus):
    from webcrawler_spark.curation import pack_sequences

    rates = {"en": 5000, "zh": 2500}
    seq = 512
    split = train_split(corpus, rates).select("doc_id", "split", "n_tokens")
    spans = pack_sequences(split, seq).toPandas()
    src = split.toPandas()
    for sp, grp in spans.groupby("split"):
        # per-doc: spans reconstruct the document exactly, in order
        for doc, d in grp.groupby("doc_id"):
            d = d.sort_values("seq_id")
            n = src[src.doc_id == doc].n_tokens.iloc[0]
            assert d.span_len.sum() == n
            assert d.doc_offset.iloc[0] == 0
            assert (d.doc_offset == d.span_len.cumsum() - d.span_len).all()
            # consecutive sequences, no gaps
            assert (d.seq_id.diff().dropna() == 1).all()
        # per-sequence: spans tile [0, seq) exactly (except the tail seq)
        last = grp.seq_id.max()
        for sid, s in grp.groupby("seq_id"):
            s = s.sort_values("seq_offset")
            assert s.seq_offset.iloc[0] == 0
            assert (s.seq_offset == s.span_len.cumsum() - s.span_len).all()
            if sid != last:
                assert s.span_len.sum() == seq
            else:
                assert 0 < s.span_len.sum() <= seq
        # total conservation
        assert grp.span_len.sum() == src[src.split == sp].n_tokens.sum()


# ---------------------------------------------------------------------------
# image-pair funnel vs brute-force union-find oracle
# ---------------------------------------------------------------------------

def _pair_corpus() -> pd.DataFrame:
    from webcrawler_spark.functions.images import (
        decode_image, encode_image, phash64)
    from webcrawler_spark.sources.fixtures import make_images, render_image

    pdf = make_images(48)
    variants = []
    for i in range(0, 48, 4):
        iid = f"img{i:010d}"
        pixels, w, h, _fmt, cap = render_image(iid)
        data = encode_image(pixels, "jpeg", quality=70)
        variants.append({
            "image_id": iid + "_v70", "bytes": data, "w": w, "h": h,
            "fmt": "jpeg", "caption": cap,
            "phash": phash64(decode_image(data)),
        })
    corpus = pd.concat([pdf, pd.DataFrame(variants)], ignore_index=True)
    corpus.loc[corpus.index % 5 == 0, "caption"] = ""
    return corpus


def _brute_force_survivors(corpus: pd.DataFrame,
                           min_caption_tokens=2, min_pixels=4096,
                           max_hamming=3) -> set[str]:
    import re

    def n_toks(c):
        return len([t for t in re.split("[^a-z0-9]+", str(c).lower()) if t])

    gated = corpus[
        corpus.caption.notna()
        & (corpus.caption.map(n_toks) >= min_caption_tokens)
        & (corpus.w * corpus.h >= min_pixels)
    ]
    ids = list(gated.image_id)
    ph = dict(zip(gated.image_id, gated.phash))
    parent = {i: i for i in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            if bin((ph[a] ^ ph[b]) & ((1 << 64) - 1)).count("1") <= max_hamming:
                ra, rb = find(a), find(b)
                if ra != rb:
                    parent[max(ra, rb)] = min(ra, rb)
    by_root: dict[str, list[str]] = {}
    for i in ids:
        by_root.setdefault(find(i), []).append(i)
    return {min(members) for members in by_root.values()} | {
        i for i in ids if len(by_root[find(i)]) == 1}


def test_pair_curation_matches_brute_force(spark):
    corpus = _pair_corpus()
    pairs = spark.createDataFrame(corpus)
    got = {r.image_id for r in curate_pairs(pairs).select("image_id").collect()}
    expect = _brute_force_survivors(corpus)
    assert got == expect
    # and the funnel counters agree with the sets
    row = pair_curation_funnel(pairs).collect()[0]
    assert row.n_input == len(corpus)
    assert row.n_survivors == len(expect)
    assert row.n_gate_ok - row.n_neardup_dropped == row.n_survivors
    # non-vacuous on every gate
    assert row.n_caption_ok < row.n_input
    assert row.n_neardup_dropped > 0
    # survivors keep the full input_hint schema
    cols = curate_pairs(pairs).columns
    assert cols == ["image_id", "bytes", "w", "h", "fmt", "caption", "phash"]


# ---------------------------------------------------------------------------
# per-domain diversity cap
# ---------------------------------------------------------------------------

def test_domain_cap_equals_single_window_and_binds(spark):
    from pyspark.sql import Window
    from webcrawler_spark.curation import domain_cap

    # Zipf-ish skew: domain z0 holds half the corpus, long tail after
    rows = []
    for i in range(600):
        dom = "z0" if i % 2 == 0 else f"d{i % 23}"
        rows.append((i, dom, round((i * 2654435761 % 1000) / 1000.0, 6)))
    df = spark.createDataFrame(rows, "doc_id long, domain string, quality double")

    n = 7
    got = domain_cap(df, n).select("doc_id", "domain", "quality", "domain_rank")

    w = Window.partitionBy("domain").orderBy(F.desc("quality"), F.asc("doc_id"))
    want = (
        df.withColumn("domain_rank", F.row_number().over(w).cast("int"))
        .filter(F.col("domain_rank") <= n)
        .select("doc_id", "domain", "quality", "domain_rank")
    )
    key = ["domain", "domain_rank"]
    assert sorted(got.collect(), key=lambda r: (r.domain, r.domain_rank)) == sorted(
        want.collect(), key=lambda r: (r.domain, r.domain_rank)
    )

    counts = {r.domain: r.c for r in got.groupBy("domain").agg(F.count("*").alias("c")).collect()}
    assert counts["z0"] == n  # the hot domain is actually capped
    assert max(counts.values()) <= n

    # shards is a pure parallelism knob: output identical at 1, 3, 16
    base = sorted(got.collect())
    for s in (1, 3, 16):
        assert sorted(domain_cap(df, n, shards=s)
                      .select("doc_id", "domain", "quality", "domain_rank")
                      .collect()) == base


def test_caption_dedup_keeps_best_resolution(spark):
    from webcrawler_spark.curation import caption_dedup

    rows = [
        # one caption group of 4: best pixels = (40, 30) -> id 12
        (10, 20, 20, "a cat"),
        (11, 30, 30, "a  cat"),   # ws-collapse: same fingerprint group
        (12, 40, 30, "A cat"),    # case-fold: same group, most pixels
        (13, 30, 40, "a cat"),    # pixel tie with 11: smaller id wins? no — 12 wins outright
        # singleton caption
        (20, 10, 10, "a dog"),
        # null / empty captions all pass through
        (30, 50, 50, None),
        (31, 60, 60, ""),
    ]
    df = spark.createDataFrame(rows, "image_id long, w int, h int, caption string")
    got = {r.image_id: r for r in caption_dedup(df).collect()}
    assert set(got) == {12, 20, 30, 31}
    assert got[12].n_dup == 4 and got[12].pixels == 1200
    assert got[20].n_dup == 1
    assert got[30].caption_fp is None and got[31].caption_fp is None

    # pixel tie -> smaller image_id
    tie = spark.createDataFrame(
        [(5, 2, 6, "x y"), (3, 4, 3, "x y"), (9, 3, 4, "x y")],
        "image_id long, w int, h int, caption string",
    )
    assert [r.image_id for r in caption_dedup(tie).collect()] == [3]


def test_caption_dedup_hot_caption_over_many_partitions_ties_to_min_id(spark):
    # one hot caption spread over 12 input partitions, every member tied
    # on pixels (8x8 = 4x16 = 16x4): the map-side partial minimums must
    # still elect the globally smallest image_id and count every row
    from webcrawler_spark.curation import caption_dedup

    dims = [(8, 8), (4, 16), (16, 4)]
    hot = [
        (1000 - i, *dims[i % 3], "Stock  PHOTO of a product")
        for i in range(120)
    ]
    cold = [(5000 + i, 8, 8, f"unique caption {i}") for i in range(12)]
    df = spark.createDataFrame(
        hot + cold, "image_id long, w int, h int, caption string"
    ).repartition(12)
    assert df.rdd.getNumPartitions() >= 8
    assert min(
        df.rdd.mapPartitions(
            lambda it: [sum(1 for r in it if r.image_id < 5000)]
        ).collect()
    ) > 0  # the hot caption really lands in every partition
    got = {r.image_id: r for r in caption_dedup(df).collect()}
    assert set(got) == {881} | {5000 + i for i in range(12)}
    assert got[881].n_dup == 120 and got[881].pixels == 64
    assert all(got[5000 + i].n_dup == 1 for i in range(12))


def test_pair_curation_keep_agrees_with_phash_clusters_on_chains(spark):
    # A~B and B~C within 3 bits but A, C 4 bits apart, and B carries the
    # largest id: C (id 2) shares no edge with the min id and is the
    # smaller end of its only edge, so only the transitive component
    # drops it; D~E is a second cluster, F a singleton
    from webcrawler_spark.curation import pair_curation_flags
    from webcrawler_spark.dedup.phash import phash_clusters

    a = 0x0F0F0F0F0F0F0F0F
    b, c = a ^ 0b11, a ^ 0b1111
    d = 0x123456789ABCDEF
    rows = [
        (1, a), (2, c), (3, b), (4, d), (5, d ^ (1 << 50)), (6, 0x7777),
    ]
    df = spark.createDataFrame(
        [(i, 64, 64, "two tokens", ph) for i, ph in rows],
        "image_id long, w int, h int, caption string, phash long",
    )
    keep = {r.image_id: r.keep for r in pair_curation_flags(df).collect()}
    canon = {
        r.image_id: r.is_canonical
        for r in phash_clusters(df.select("image_id", "phash")).collect()
    }
    assert set(canon) == {1, 2, 3, 4, 5}
    for i, _ in rows:
        assert keep[i] == canon.get(i, True)
    assert keep == {1: True, 2: False, 3: False, 4: True, 5: False, 6: True}
