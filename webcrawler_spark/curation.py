"""Training-corpus curation — the selection pass between a crawl and a
training run: exact-dedup → quality gate → per-language stratified
sampling → deterministic train/val/test split, plus the sequence-length
histogram a batch planner needs, and the image+caption twin of the same
funnel (caption gate + resolution gate + phash near-dup keep-one).

Not in the reference (its pipeline ends at index/extract); required by
the brief's training-data-pipeline axis. Everything text-side is pure
Catalyst with a value-exact DuckDB mirror (the driver oracle-checks
`corpus_curation`, `train_split`, `token_histogram`); the image-side
funnel is oracle-checked against a brute-force union-find in
`tests/test_curation.py` (DuckDB cannot decode images).

Determinism contract: sampling and split assignment key on
``portable_hash64(salt || '|' || id)`` — a pure function of the row id,
so (a) re-running the job on any cluster size yields the SAME corpus
(no rand(), no partition-order dependence), (b) adding documents never
flips the split of an existing one (the leakage property a train/eval
split must have), and (c) the decision is recomputable by any engine
that has md5.

Scale shape (100 TB): one fingerprint-keyed shuffle for the dedup
window (same key as J5 exact dedup), then every gate/sample/split
decision is a narrow per-row expression — the funnel aggregates are
conditional sums in a single pass (no per-stage rescan), and the split
assignment never shuffles at all (project + filter; written out it
partitions by split/lang for the trainer's reader).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from webcrawler_spark.functions.hashing import (
    PORTABLE_HASH64_DUCKDB,
    portable_hash64,
    salted_key,
)
from webcrawler_spark.functions.text import (
    fingerprint64,
    quality_score,
    token_count,
)

SAMPLE_BUCKETS = 10_000  # basis points: rates are integers out of 10000

# largest power-of-two token-count bin (everything above folds into it)
HISTOGRAM_MAX_BIN = 65_536


# ---------------------------------------------------------------------------
# deterministic hash buckets (portable: identical value in DuckDB)
# ---------------------------------------------------------------------------

def hash_bucket(id_col: Column, salt: str) -> Column:
    """Bucket in [0, SAMPLE_BUCKETS) as a pure function of (salt, id).

    DuckDB mirror: `hash_bucket_duckdb`. Distinct salts give independent
    buckets, so the sampling decision and the split assignment don't
    correlate (a doc sampled at rate r is not biased toward 'val')."""
    return F.pmod(
        portable_hash64(F.concat(F.lit(salt + "|"), id_col.cast("string"))),
        F.lit(SAMPLE_BUCKETS),
    )


def hash_bucket_duckdb(id_expr: str, salt: str) -> str:
    """DuckDB SQL fragment computing exactly `hash_bucket`."""
    h = PORTABLE_HASH64_DUCKDB.format(col=f"('{salt}|' || ({id_expr})::VARCHAR)")
    return f"({h} % {SAMPLE_BUCKETS})"


def _rate_expr(strata_col: Column, rates_bp: dict[str, int], default_bp: int) -> Column:
    expr = None
    for key in sorted(rates_bp):
        cond = strata_col == key
        expr = F.when(cond, F.lit(rates_bp[key])) if expr is None else expr.when(
            cond, F.lit(rates_bp[key]))
    return expr.otherwise(F.lit(default_bp)) if expr is not None else F.lit(default_bp)


def rate_expr_duckdb(strata_expr: str, rates_bp: dict[str, int], default_bp: int) -> str:
    whens = " ".join(
        f"WHEN {strata_expr} = '{k}' THEN {rates_bp[k]}" for k in sorted(rates_bp)
    )
    return f"(CASE {whens} ELSE {default_bp} END)" if rates_bp else str(default_bp)


def stratified_keep(
    id_col: Column,
    strata_col: Column,
    rates_bp: dict[str, int],
    default_bp: int = SAMPLE_BUCKETS,
    salt: str = "sample",
) -> Column:
    """True iff the row survives per-stratum deterministic sampling at
    rate rates_bp[stratum]/10000 (default_bp for unlisted strata)."""
    return hash_bucket(id_col, salt) < _rate_expr(strata_col, rates_bp, default_bp)


def assign_split(
    id_col: Column,
    val_bp: int = 500,
    test_bp: int = 500,
    salt: str = "split",
) -> Column:
    """'val' | 'test' | 'train' as a pure function of the id — an
    append-stable split (new rows never move old ones)."""
    b = hash_bucket(id_col, salt)
    return (
        F.when(b < F.lit(val_bp), F.lit("val"))
        .when(b < F.lit(val_bp + test_bp), F.lit("test"))
        .otherwise(F.lit("train"))
    )


def assign_split_duckdb(
    id_expr: str, val_bp: int = 500, test_bp: int = 500, salt: str = "split"
) -> str:
    b = hash_bucket_duckdb(id_expr, salt)
    return (
        f"(CASE WHEN {b} < {val_bp} THEN 'val' "
        f"WHEN {b} < {val_bp + test_bp} THEN 'test' ELSE 'train' END)"
    )


# ---------------------------------------------------------------------------
# token-length histogram (batch / sequence planning)
# ---------------------------------------------------------------------------

def pow2_bin(n: Column, max_bin: int = HISTOGRAM_MAX_BIN) -> Column:
    """Largest power of two <= n (0 for n <= 0), capped at max_bin.

    Integer CASE boundaries on purpose: floor(log2(n)) in floating point
    disagrees between engines at exact powers of two; a comparison chain
    cannot."""
    expr = F.when(n >= max_bin, F.lit(max_bin))
    p = max_bin // 2
    while p >= 1:
        expr = expr.when(n >= p, F.lit(p))
        p //= 2
    return expr.otherwise(F.lit(0))


def pow2_bin_duckdb(n_expr: str, max_bin: int = HISTOGRAM_MAX_BIN) -> str:
    whens = [f"WHEN {n_expr} >= {max_bin} THEN {max_bin}"]
    p = max_bin // 2
    while p >= 1:
        whens.append(f"WHEN {n_expr} >= {p} THEN {p}")
        p //= 2
    return "(CASE " + " ".join(whens) + " ELSE 0 END)"


def token_histogram(df: DataFrame, text_col: str = "text") -> DataFrame:
    """(bin_lo, n_docs, total_tokens) — docs bucketed by the power-of-two
    floor of their token count. One scan, one tiny aggregate."""
    n = token_count(F.col(text_col))
    return (
        df.select(pow2_bin(n).cast("int").alias("bin_lo"), n.alias("n"))
        .groupBy("bin_lo")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n").cast("long").alias("total_tokens"),
        )
        .orderBy("bin_lo")
    )


def length_quantiles(
    df: DataFrame,
    ps: tuple[int, ...] = (25, 50, 75, 95),
    strata_col: str = "lang",
    text_col: str = "text",
) -> DataFrame:
    """EXACT per-stratum token-length quantiles — (lang, p, n_docs,
    q_tokens) with q_tokens the smallest length whose cumulative count
    reaches ceil(p% of the stratum) (type-1 / discrete quantile: pure
    integer arithmetic, so the value is engine-portable where
    interpolating quantiles and approx sketches are not).

    Scale shape: the quantile is read off the LENGTH HISTOGRAM, not the
    sorted corpus — one map-side-combining groupBy(stratum, len) first,
    then the cumulative window runs over at most |distinct lengths| rows
    per stratum (<= ~65k), not 10^9 documents through one reducer. The
    per-p explode multiplies that small frame only."""
    n = token_count(F.col(text_col))
    hist = (
        df.select(F.col(strata_col).alias("lang"), n.alias("n"))
        .groupBy("lang", "n")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    w = (
        Window.partitionBy("lang").orderBy("n")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = hist.withColumn("cum", F.sum("c").over(w))
    tot = hist.groupBy("lang").agg(F.sum("c").cast("long").alias("n_docs"))
    p_df = cum.sparkSession.createDataFrame([(int(p),) for p in ps], "p int")
    # target rank = ceil(n_docs * p / 100), integers only
    target = F.expr("(n_docs * p + 99) DIV 100")
    return (
        cum.join(F.broadcast(tot), "lang")
        .crossJoin(F.broadcast(p_df))
        .filter(F.col("cum") >= target)
        .groupBy("lang", "p", "n_docs")
        .agg(F.min("n").cast("int").alias("q_tokens"))
        .orderBy("lang", "p")
    )


def length_quantiles_duckdb(
    toks_len_expr: str,
    table: str = "documents",
    ps: tuple[int, ...] = (25, 50, 75, 95),
    strata_expr: str = "lang",
) -> str:
    """Full SELECT mirroring `length_quantiles`."""
    plist = ", ".join(f"({int(p)})" for p in ps)
    return f"""
        WITH lq_hist AS (
            SELECT {strata_expr} AS lang, {toks_len_expr} AS n,
                   count(*)::BIGINT AS c
            FROM {table} GROUP BY 1, 2
        ),
        lq_cum AS (
            SELECT lang, n, c,
                   sum(c) OVER (PARTITION BY lang ORDER BY n
                                ROWS UNBOUNDED PRECEDING) AS cum
            FROM lq_hist
        ),
        lq_tot AS (SELECT lang, sum(c)::BIGINT AS n_docs FROM lq_hist GROUP BY 1),
        lq_p (p) AS (VALUES {plist})
        SELECT g.lang, p.p::INT AS p, t.n_docs,
               min(g.n)::INT AS q_tokens
        FROM lq_cum g
        JOIN lq_tot t USING (lang)
        CROSS JOIN lq_p p
        WHERE g.cum >= (t.n_docs * p.p + 99) // 100
        GROUP BY 1, 2, 3 ORDER BY 1, 2
    """


# ---------------------------------------------------------------------------
# the text curation funnel
# ---------------------------------------------------------------------------

def curation_flags(
    corpus: DataFrame,
    rates_bp: dict[str, int],
    default_bp: int = SAMPLE_BUCKETS,
    quality_threshold: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
    strata_col: str = "lang",
) -> DataFrame:
    """Per-row curation decisions in one pass: (id, stratum, n_tokens,
    keep_dedup, keep_quality, keep_sampled) — each keep_* implies the
    previous. keep_dedup is first-writer-wins on the exact-content
    fingerprint (J5/W2 key: one shuffle); everything after is narrow."""
    scored = corpus.select(
        F.col(id_col).alias("id"),
        F.col(strata_col).alias("stratum"),
        fingerprint64(F.col(text_col)).alias("fp"),
        token_count(F.col(text_col)).alias("n_tokens"),
        quality_score(F.col(text_col)).alias("quality"),
    )
    w = Window.partitionBy("fp").orderBy("id")
    keep_dedup = F.row_number().over(w) == 1
    flagged = scored.withColumn("keep_dedup", keep_dedup)
    keep_quality = F.col("keep_dedup") & (F.col("quality") >= quality_threshold)
    keep_sampled = keep_quality & stratified_keep(
        F.col("id"), F.col("stratum"), rates_bp, default_bp
    )
    return (
        flagged.withColumn("keep_quality", keep_quality)
        .withColumn("keep_sampled", keep_sampled)
    )


def curation_funnel(
    corpus: DataFrame,
    rates_bp: dict[str, int],
    default_bp: int = SAMPLE_BUCKETS,
    quality_threshold: float = 0.75,
    **kw,
) -> DataFrame:
    """(stage, n_docs, n_tokens) per funnel stage — conditional sums over
    the flags frame (ONE aggregation pass; stack() unpivots the single
    result row, no per-stage rescans)."""
    flags = curation_flags(corpus, rates_bp, default_bp, quality_threshold, **kw)
    row = flags.agg(
        F.count(F.lit(1)).cast("long").alias("n0"),
        F.sum("n_tokens").cast("long").alias("t0"),
        F.sum(F.when(F.col("keep_dedup"), 1).otherwise(0)).cast("long").alias("n1"),
        F.sum(F.when(F.col("keep_dedup"), F.col("n_tokens")).otherwise(0)).cast("long").alias("t1"),
        F.sum(F.when(F.col("keep_quality"), 1).otherwise(0)).cast("long").alias("n2"),
        F.sum(F.when(F.col("keep_quality"), F.col("n_tokens")).otherwise(0)).cast("long").alias("t2"),
        F.sum(F.when(F.col("keep_sampled"), 1).otherwise(0)).cast("long").alias("n3"),
        F.sum(F.when(F.col("keep_sampled"), F.col("n_tokens")).otherwise(0)).cast("long").alias("t3"),
    )
    return row.selectExpr(
        "stack(4, '0_raw', n0, t0, '1_exact_dedup', n1, t1, "
        "'2_quality_gate', n2, t2, '3_lang_sampled', n3, t3) "
        "AS (stage, n_docs, n_tokens)"
    ).orderBy("stage")


def train_split(
    corpus: DataFrame,
    rates_bp: dict[str, int],
    default_bp: int = SAMPLE_BUCKETS,
    quality_threshold: float = 0.75,
    val_bp: int = 500,
    test_bp: int = 500,
    **kw,
) -> DataFrame:
    """The curated corpus with its split assignment: (doc_id, lang,
    n_tokens, split) for every funnel survivor. Pure project+filter after
    the dedup shuffle; a production writer would partitionBy(split, lang)."""
    flags = curation_flags(corpus, rates_bp, default_bp, quality_threshold, **kw)
    return (
        flags.filter("keep_sampled")
        .select(
            F.col("id").alias("doc_id"),
            F.col("stratum").alias("lang"),
            "n_tokens",
            assign_split(F.col("id"), val_bp, test_bp).alias("split"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# incremental curation (carried-state form, for a continuously-ingesting feed)
# ---------------------------------------------------------------------------

class IncrementalCurator:
    """The curation funnel as an INCREMENTAL pipeline: each arriving batch
    is exact-deduped against a persisted fingerprint index, near-dup
    checked against the persisted MinHash-LSH index
    (``dedup.incremental.NearDupIndex``), quality-gated, sampled, and
    split — then the batch's state appends (parquet file adds only, the
    same cost model as the crawl's seen-set sidecar).

    Keep rules — all invariant to how the feed is chunked into batches,
    given id-ordered arrival (each batch's min id above every previously
    ingested id; the crawl's monotone vseq gives this for free, and the
    persisted high-water mark enforces it):

    * exact:   keep iff the content fingerprint is unseen among
               earlier-arrived docs and no smaller-id twin exists in the
               batch (first-writer-wins, same key as J5).
    * neardup: keep iff no (LSH-candidate AND exact-Jaccard >= threshold)
               pair with a smaller-id exact-survivor — the PAIRWISE-
               PRECEDENT rule, i.e. the online form of near-dup dedup.
               NOTE this differs from the transitive CC clustering in
               ``dedup/cluster.py`` on chains: for A~B~C with no A~C
               pair, CC keep-min keeps only A; this keeps A and C (B's
               arrival dropped B; C never pairs with a surviving
               precedent... C pairs with B which arrived earlier —
               dropped or not, arrival is what counts — so C is dropped
               here too; the divergence appears only when the chain
               spans MISSED LSH candidates). Dropped and gate-failed
               docs stay in both indexes: they arrived, so later copies
               of them are still redundant content.
    * quality / sample / split: per-row pure functions (order-free).

    Batch equivalence: ingesting a corpus in ANY id-ordered chunking
    yields exactly ``pairwise_precedent_curation`` of the whole corpus
    (tested in tests/test_curation.py, and oracle-checked end-to-end by
    the driver's ``incremental_curation`` query against one pure-SQL
    DuckDB mirror).

    Scale shape: the batch stages to parquet once (no driver collect of
    text), probes shuffle |batch|-sized deltas against partition-pruned
    state, and appends never rewrite carried files.
    """

    def __init__(
        self,
        spark,
        root: str,
        rates_bp: dict[str, int],
        default_bp: int = SAMPLE_BUCKETS,
        quality_threshold: float = 0.75,
        neardup_threshold: float = 0.8,
        val_bp: int = 500,
        test_bp: int = 500,
    ) -> None:
        import os

        from webcrawler_spark.dedup.incremental import NearDupIndex

        self.spark = spark
        self.root = root
        self.rates_bp = dict(rates_bp)
        self.default_bp = default_bp
        self.quality_threshold = quality_threshold
        self.val_bp = val_bp
        self.test_bp = test_bp
        os.makedirs(root, exist_ok=True)
        self.nd = NearDupIndex(spark, f"{root}/neardup", neardup_threshold)

    # -- carried state ------------------------------------------------------
    @property
    def _fp_dir(self) -> str:
        return f"{self.root}/fp"

    @property
    def _hwm_path(self) -> str:
        return f"{self.root}/_HWM"

    def high_water_mark(self) -> int | None:
        import os

        if not os.path.exists(self._hwm_path):
            return None
        with open(self._hwm_path) as f:
            return int(f.read().strip())

    def _set_hwm(self, v: int) -> None:
        with open(self._hwm_path, "w") as f:
            f.write(str(int(v)))

    # -- ingest ---------------------------------------------------------------
    def add_batch(
        self,
        docs: DataFrame,
        id_col: str = "doc_id",
        text_col: str = "text",
        strata_col: str = "lang",
    ) -> DataFrame:
        """Curate one arriving batch; returns its survivors as
        (doc_id, lang, n_tokens, split), materialized against staged
        state so the frame stays valid after later batches append."""
        import os

        lo, hi = docs.agg(F.min(id_col), F.max(id_col)).collect()[0]
        empty = self.spark.createDataFrame(
            [], "doc_id long, lang string, n_tokens int, split string")
        if lo is None:
            return empty
        hwm = self.high_water_mark()
        if hwm is not None and lo <= hwm:
            raise ValueError(
                f"batch min id {lo} <= high-water mark {hwm}: the feed "
                "must arrive in id order (see class contract)")

        scored = docs.select(
            F.col(id_col).alias("doc_id"),
            F.col(strata_col).alias("lang"),
            F.col(text_col).alias("text"),
            fingerprint64(F.col(text_col)).alias("fp"),
            token_count(F.col(text_col)).alias("n_tokens"),
            quality_score(F.col(text_col)).alias("quality"),
        )
        w = Window.partitionBy("fp").orderBy("doc_id")
        firsts = (
            scored.withColumn("rn", F.row_number().over(w))
            .filter("rn = 1").drop("rn")
        )
        if os.path.exists(f"{self._fp_dir}/_SUCCESS"):
            exact = firsts.join(
                self.spark.read.parquet(self._fp_dir), "fp", "left_anti")
        else:
            exact = firsts
        # settle the exact-survivor set to parquet BEFORE touching any
        # index: every later plan reads immutable staged data, never a
        # state dir we are about to append to
        stage = f"{self.root}/staging/batch_{lo}_{hi}"
        exact.write.mode("overwrite").parquet(stage)
        exact = self.spark.read.parquet(stage)

        # near-dup probe + index append (NearDupIndex materializes its
        # pair result before appending its own state)
        nd_pairs = self.nd.add_batch(exact.select("doc_id", "text"))
        dropped = nd_pairs.select(F.col("b").alias("doc_id")).distinct()
        kept = exact.join(dropped, "doc_id", "left_anti")

        out = (
            kept.filter(F.col("quality") >= self.quality_threshold)
            .filter(stratified_keep(
                F.col("doc_id"), F.col("lang"), self.rates_bp, self.default_bp))
            .select(
                "doc_id", "lang", "n_tokens",
                assign_split(F.col("doc_id"), self.val_bp, self.test_bp)
                .alias("split"),
            )
            .orderBy("doc_id")
        )
        exact.select("fp").write.mode("append").parquet(self._fp_dir)
        self._set_hwm(hi)
        return out

    # -- maintenance --------------------------------------------------------
    def compact(self) -> dict:
        """Offline small-file compaction of the carried state (the
        fingerprint index and the NearDupIndex band/shingle dirs — each
        grows one file per ingested batch). Results invariant; call
        between ingests. Batch staging dirs are NOT touched: returned
        survivor frames read them lazily."""
        import os

        from webcrawler_spark.storage.compaction import compact_parquet_dir

        out = {}
        if os.path.exists(f"{self._fp_dir}/_SUCCESS"):
            out["fp_files"] = compact_parquet_dir(self.spark, self._fp_dir)
        out["band_files"], out["shingle_files"] = self.nd.compact()
        return out


def pairwise_precedent_curation(
    corpus: DataFrame,
    rates_bp: dict[str, int],
    default_bp: int = SAMPLE_BUCKETS,
    quality_threshold: float = 0.75,
    neardup_threshold: float = 0.8,
    val_bp: int = 500,
    test_bp: int = 500,
    id_col: str = "doc_id",
    text_col: str = "text",
    strata_col: str = "lang",
) -> DataFrame:
    """One-shot batch twin of :class:`IncrementalCurator`: exact
    first-writer, then drop every doc with a near-dup pair of smaller id
    among exact survivors, then quality/sample/split. Ingesting the same
    corpus through IncrementalCurator in any id-ordered chunking yields
    exactly this frame."""
    from webcrawler_spark.dedup.minhash import near_duplicates

    scored = corpus.select(
        F.col(id_col).alias("doc_id"),
        F.col(strata_col).alias("lang"),
        F.col(text_col).alias("text"),
        fingerprint64(F.col(text_col)).alias("fp"),
        token_count(F.col(text_col)).alias("n_tokens"),
        quality_score(F.col(text_col)).alias("quality"),
    )
    w = Window.partitionBy("fp").orderBy("doc_id")
    firsts = (
        scored.withColumn("rn", F.row_number().over(w)).filter("rn = 1").drop("rn")
    )
    pairs = near_duplicates(
        firsts.select("doc_id", "text"), threshold=neardup_threshold)
    kept = firsts.join(
        pairs.select(F.col("b").alias("doc_id")).distinct(), "doc_id", "left_anti")
    return (
        kept.filter(F.col("quality") >= quality_threshold)
        .filter(stratified_keep(F.col("doc_id"), F.col("lang"), rates_bp, default_bp))
        .select(
            "doc_id", "lang", "n_tokens",
            assign_split(F.col("doc_id"), val_bp, test_bp).alias("split"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# per-domain diversity cap (RefinedWeb/FineWeb-style top-n per domain)
# ---------------------------------------------------------------------------

def domain_cap(
    df: DataFrame,
    n: int,
    domain_col: str = "domain",
    quality_col: str = "quality",
    id_col: str = "doc_id",
    shards: int = 8,
) -> DataFrame:
    """Keep at most n docs per domain, best-quality first (ties to the
    smaller id — a total order, so the survivor set is deterministic).
    Web corpora are Zipf-skewed: one hot domain can hold 10^8 pages, so
    the naive ``row_number() OVER (PARTITION BY domain)`` funnels it
    through ONE reducer. Two phases instead:

    1. local top-n within (domain, cheap-salt shard) — the hot domain
       fans out over `shards` reducers;
    2. global top-n among the <= shards*n survivors per domain — the
       second window's per-domain input is bounded by shards*n rows
       regardless of corpus size.

    The result equals the single-window form exactly (any global top-n
    row is a top-n row of its own shard), so the salt may be the cheap
    non-portable xxhash64 — the OUTPUT carries no trace of it, which is
    what keeps the DuckDB oracle a plain one-window mirror. At cluster
    scale set shards so the hottest domain / shards fits one task.

    Adds ``domain_rank`` (1-based, int). quality_col must already be
    the 6-dp-rounded portable score if oracle parity is wanted."""
    order = [F.desc(quality_col), F.asc(id_col)]
    w1 = Window.partitionBy(domain_col, "_shard").orderBy(*order)
    cand = (
        df.withColumn("_shard", salted_key(F.col(id_col).cast("string"), shards))
        .withColumn("_r1", F.row_number().over(w1))
        .filter(F.col("_r1") <= n)
        .drop("_r1")
    )
    w2 = Window.partitionBy(domain_col).orderBy(*order)
    return (
        cand.withColumn("domain_rank", F.row_number().over(w2).cast("int"))
        .filter(F.col("domain_rank") <= n)
        .drop("_shard")
    )


# ---------------------------------------------------------------------------
# cross-modal caption dedup (keep the best image per repeated caption)
# ---------------------------------------------------------------------------

def caption_dedup(pairs: DataFrame) -> DataFrame:
    """Web image corpora repeat captions massively (LAION-style "stock
    photo of ..." boilerplate): pairs sharing one normalized caption keep
    only the highest-resolution image (ties → smaller image_id). Null or
    empty captions are never grouped — those rows pass through.

    Returns survivors: (image_id, caption_fp, pixels, n_dup) where n_dup
    is the group size the survivor won.

    Scale shape: the group key is the 60-bit caption fingerprint (the J5
    content-dedup key), so no exchange carries caption text. The keep-one
    election and the group count are ONE aggregate —
    ``min(struct(-pixels, image_id))`` and ``count(*)`` per fingerprint,
    one exchange, no window, no join. Caption frequency is Zipf-skewed
    ("image", "photo" at 10^8 occurrences), but both functions combine
    map-side, so a hot caption reaches its reducer as one partial row
    per map task, never as its raw rows."""
    base = pairs.select(
        "image_id",
        F.when(
            F.length(F.col("caption")) > 0, fingerprint64(F.col("caption"))
        ).alias("caption_fp"),
        (F.col("w").cast("long") * F.col("h").cast("long")).alias("pixels"),
    )
    passthrough = base.filter(F.col("caption_fp").isNull()).select(
        "image_id", "caption_fp", "pixels", F.lit(1).cast("long").alias("n_dup")
    )
    winners = (
        base.filter(F.col("caption_fp").isNotNull())
        .groupBy("caption_fp")
        .agg(
            # most pixels first (NULL pixels last), then smaller image_id
            F.min(
                F.struct(
                    F.col("pixels").isNull().alias("px_null"),
                    (-F.col("pixels")).alias("neg_px"),
                    "image_id",
                )
            ).alias("best"),
            F.count("*").alias("n_dup"),
        )
        .select(
            F.col("best.image_id").alias("image_id"),
            "caption_fp",
            (-F.col("best.neg_px")).alias("pixels"),
            "n_dup",
        )
    )
    return winners.unionByName(passthrough)


# ---------------------------------------------------------------------------
# shard packing (token-budget chunking for the training writer)
# ---------------------------------------------------------------------------

def pack_shards(
    df: DataFrame,
    budget_tokens: int,
    tokens_col: str = "n_tokens",
    order_col: str = "doc_id",
    by: tuple[str, ...] = ("split",),
) -> DataFrame:
    """Assign each row a shard_id: contiguous runs in order_col (within
    each `by` group) that fill a ~budget_tokens token budget — the chunk
    plan a training writer uses to emit uniformly-sized files. A doc
    lands in the shard where its EXCLUSIVE prefix sum starts, so shards
    never split a doc and overflow by at most one doc's tokens (the
    standard contiguous-fill rule; a bin-packing reorder would shuffle
    the corpus order, which curriculum-sensitive training can't accept).

    Deterministic, one window shuffle (partition by `by`, ROWS frame —
    RANGE would misbehave on duplicate order values). DuckDB mirror in
    `pack_shards_duckdb_expr`."""
    w = (
        Window.partitionBy(*by)
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    prefix_excl = F.sum(tokens_col).over(w) - F.col(tokens_col)
    return df.withColumn(
        "shard_id", F.floor(prefix_excl / F.lit(budget_tokens)).cast("long")
    )


def pack_sequences(
    df: DataFrame,
    seq_tokens: int,
    tokens_col: str = "n_tokens",
    order_col: str = "doc_id",
    by: tuple[str, ...] = ("split",),
) -> DataFrame:
    """GPT-style packed-pretraining layout: within each ``by`` group the
    documents are CONCATENATED in ``order_col`` order and cut every
    ``seq_tokens`` tokens — documents split across cuts (the standard
    causal-LM packing; ``pack_shards`` is the never-split file-level
    counterpart). One output row per (document × overlapped sequence):

      seq_id      — which fixed-length sequence the span lands in
      doc_offset  — first token of the span, within the DOCUMENT
      seq_offset  — first token of the span, within the SEQUENCE
      span_len    — tokens in the span (≥1)

    so a loader can assemble any sequence by concatenating its spans in
    seq_offset order, and attention masking / loss weighting can find
    every document boundary. Zero-token docs contribute no span.

    Scale: one windowed prefix sum per group + an explode of at most
    ceil(tokens/seq_tokens)+1 rows per doc — no join, no state; the
    window partitions by ``by`` exactly like ``pack_shards`` (split ×
    lang in a production writer keeps each window arrival-rate-sized).
    DuckDB mirror in ``pack_sequences_duckdb_sql``."""
    w = (
        Window.partitionBy(*by)
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    start = (F.sum(tokens_col).over(w) - F.col(tokens_col)).cast("long")
    n = F.col(tokens_col).cast("long")
    s = F.lit(int(seq_tokens)).cast("long")
    spanned = (
        df.where(F.col(tokens_col) > 0)
        .withColumn("_start", start)
        .withColumn(
            "seq_id",
            F.explode(
                F.sequence(
                    F.floor(F.col("_start") / s).cast("long"),
                    F.floor((F.col("_start") + n - 1) / s).cast("long"),
                )
            ),
        )
    )
    seq_lo = F.col("seq_id") * s
    return spanned.select(
        *[F.col(c) for c in df.columns],
        F.col("seq_id"),
        F.greatest(seq_lo - F.col("_start"), F.lit(0).cast("long")).alias(
            "doc_offset"
        ),
        F.greatest(F.col("_start") - seq_lo, F.lit(0).cast("long")).alias(
            "seq_offset"
        ),
        (
            F.least(F.col("_start") + n, seq_lo + s)
            - F.greatest(F.col("_start"), seq_lo)
        ).alias("span_len"),
    )


def pack_sequences_duckdb_sql(
    seq_tokens: int,
    from_clause: str,
    cols: str = "doc_id, split, n_tokens",
    tokens_col: str = "n_tokens",
    order_col: str = "doc_id",
    by: str = "split",
) -> str:
    """DuckDB mirror of ``pack_sequences`` (exact integer arithmetic on
    both sides; `//` here == floor-div on the non-negative offsets)."""
    t = int(seq_tokens)
    return f"""
        WITH pseq_s AS (
            SELECT {cols},
                   (sum({tokens_col}) OVER (PARTITION BY {by}
                        ORDER BY {order_col} ROWS UNBOUNDED PRECEDING)
                    - {tokens_col})::BIGINT AS _start
            FROM {from_clause}
            WHERE {tokens_col} > 0
        ),
        pseq_x AS (
            SELECT *, unnest(generate_series(_start // {t},
                         (_start + {tokens_col} - 1) // {t})) AS seq_id
            FROM pseq_s
        )
        SELECT {cols}, seq_id::BIGINT AS seq_id,
               greatest(seq_id * {t} - _start, 0)::BIGINT AS doc_offset,
               greatest(_start - seq_id * {t}, 0)::BIGINT AS seq_offset,
               (least(_start + {tokens_col}, (seq_id + 1) * {t})
                - greatest(_start, seq_id * {t}))::BIGINT AS span_len
        FROM pseq_x
    """


def pack_shards_duckdb_expr(
    budget_tokens: int,
    tokens_col: str = "n_tokens",
    order_col: str = "doc_id",
    by: str = "split",
) -> str:
    """DuckDB fragment computing exactly pack_shards' shard_id."""
    prefix = (
        f"(sum({tokens_col}) OVER (PARTITION BY {by} ORDER BY {order_col} "
        f"ROWS UNBOUNDED PRECEDING) - {tokens_col})"
    )
    return f"floor({prefix} * 1.0 / {budget_tokens})::BIGINT"


# ---------------------------------------------------------------------------
# the image+caption twin (input_hint pair table)
# ---------------------------------------------------------------------------

def pair_curation_flags(
    pairs: DataFrame,
    min_caption_tokens: int = 2,
    min_pixels: int = 4096,
    max_hamming: int = 3,
) -> DataFrame:
    """Per-pair curation decisions over the input_hint table
    (image_id, ..., w, h, caption, phash): caption gate (non-empty, >=
    min_caption_tokens alnum tokens — the empty-alt images the crawl
    genuinely yields), resolution gate (w*h >= min_pixels), then phash
    near-dup keep-one (banded Hamming<=max_hamming clusters, min
    image_id canonical — dedup.phash). Returns (image_id, caption_ok,
    gate_ok, keep) where keep = survived everything.

    Scale: gates are narrow; the near-dup stage is the banded join from
    dedup/phash.py (4 band keys per GATED image, no all-pairs), and only
    gated rows enter it."""
    from webcrawler_spark.dedup.cluster import connected_components
    from webcrawler_spark.dedup.phash import phash_near_duplicates

    caption_ok = (
        F.col("caption").isNotNull()
        & (token_count(F.col("caption")) >= min_caption_tokens)
    )
    gated = pairs.select(
        "image_id", "w", "h", "phash", caption_ok.alias("caption_ok")
    ).withColumn(
        "gate_ok", F.col("caption_ok") & (F.col("w") * F.col("h") >= min_pixels)
    )
    # canonical = min image_id of its component (phash_clusters' rule,
    # without the cluster_size groupBy + join nothing here reads)
    members = connected_components(
        phash_near_duplicates(gated.filter("gate_ok"), max_hamming=max_hamming)
    ).select(
        F.col("node").alias("image_id"),
        (F.col("node") == F.col("component")).alias("is_canonical"),
    )
    return (
        gated.join(members, "image_id", "left")
        .withColumn(
            # not in any near-dup cluster -> survives; in one -> only the
            # canonical (min image_id) survives
            "keep", F.col("gate_ok") & F.coalesce(F.col("is_canonical"), F.lit(True)),
        )
        .select("image_id", "caption_ok", "gate_ok", "keep")
    )


def curate_pairs(pairs: DataFrame, **kw) -> DataFrame:
    """Survivor rows of the pair funnel, full input_hint schema."""
    flags = pair_curation_flags(pairs, **kw)
    return pairs.join(flags.filter("keep").select("image_id"), "image_id", "inner")


def pair_curation_funnel(pairs: DataFrame, **kw) -> DataFrame:
    """One row of funnel counters: n_input, n_caption_ok, n_gate_ok,
    n_neardup_dropped, n_survivors."""
    flags = pair_curation_flags(pairs, **kw)
    return flags.agg(
        F.count(F.lit(1)).cast("long").alias("n_input"),
        F.sum(F.col("caption_ok").cast("int")).cast("long").alias("n_caption_ok"),
        F.sum(F.col("gate_ok").cast("int")).cast("long").alias("n_gate_ok"),
        F.sum((F.col("gate_ok") & ~F.col("keep")).cast("int")).cast("long").alias("n_neardup_dropped"),
        F.sum(F.col("keep").cast("int")).cast("long").alias("n_survivors"),
    )
