"""The workloads: sizing, set-up, warm-up, oracle, timed operation.

Each workload generates all three input tables (round inputs, image+
caption pairs, a text corpus with its query mix) so that a traced run
can time every layer, but times only its own phase:

* ``frontier_round`` — ``crawl.kernel.run_round_kernel`` (admission +
  content dedup) with a Bloom seen-set sidecar built in set-up;
* ``image_pairs`` — ``multimodal.verify_invariants`` then
  ``multimodal.funnel.pair_funnel`` over the input_hint table.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from oracle import COUNTERS, funnel_counters
from webcrawler_spark.crawl.kernel import admission_kernel, run_round_kernel
from webcrawler_spark.functions.bloom import build_sharded_bloom
from webcrawler_spark.multimodal import verify_invariants
from webcrawler_spark.multimodal.funnel import funnel_summary, pair_funnel

_TINY_FRONTIER = {"candidates": 4_000, "seen": 2_000, "texts": 1_000, "hosts": 100,
                  "host_zipf": 1.2, "seen_overlap": 0.5, "dup_share": 0.25, "files": 2}
_TINY_PAIRS = {"pairs": 24, "sizes": [32, 64], "png_share": 0.5, "neardup_share": 0.2,
               "repeat_share": 0.25, "bad_caption_share": 0.15, "files": 1}
_CORPUS = {"docs": 2_000, "vocab": 3_000, "word_zipf": 1.1, "queries": 1_200,
           "query_zipf": 1.0, "miss_share": 0.15, "files": 2}

# Each workload: the sizing of all three tables. The tables a workload does
# not time stay small: they only feed the traced per-layer spans.
SIZING = {
    "frontier_round": {
        "frontier": {"candidates": 100_000, "seen": 50_000, "texts": 25_000, "hosts": 1_000,
                     "host_zipf": 1.1, "seen_overlap": 0.3, "dup_share": 0.25, "files": 8},
        "pairs": _TINY_PAIRS, "corpus": _CORPUS,
    },
    "image_pairs": {
        "frontier": _TINY_FRONTIER,
        "pairs": {"pairs": 96, "sizes": [32, 64, 128, 256], "png_share": 0.5,
                  "neardup_share": 0.15, "repeat_share": 0.2, "bad_caption_share": 0.1,
                  "files": 4},
        "corpus": _CORPUS,
    },
}


class Workload:
    """One workload's phase. ``op`` is the timed operation, ``items`` the
    work items one operation processes, ``min_ops`` the fewest operations
    a run times."""

    min_ops: int

    def __init__(self, run, inputs: str, props: dict, partitions: int):
        self.run, self.inputs, self.props, self.partitions = run, inputs, props, partitions
        self.spark = None

    def set_up(self, spark, k: int) -> None:
        """Session-scoped set-up (input read, sidecar build); run once per
        set-up, each time in a fresh session."""
        raise NotImplementedError

    def tear_down(self) -> None:
        """Release what ``set_up`` left on disk before the next set-up."""

    def warm_up(self) -> None:
        """Untimed operations that let lazy set-up and JIT warm-up finish."""
        raise NotImplementedError

    def oracle(self) -> None:
        """Untimed reference results, checked once per run."""
        raise NotImplementedError

    def op(self):
        raise NotImplementedError

    def verify(self, out) -> bool:
        raise NotImplementedError


class FrontierRound(Workload):
    # rounds keep getting faster for a while in a fresh JVM, so a run that
    # fits one more round would read faster: the count is what fills the
    # run's seconds, not the seconds themselves
    min_ops = 4

    def set_up(self, spark, k):
        self.spark = spark
        fr = self.props["frontier"]
        self.sidecar = build_sharded_bloom(
            spark.read.parquet(f"{self.inputs}/seen"), "url",
            path=os.path.join(self.run.work, f"sidecar-{k}"), n_shards=self.partitions,
            expected_items=fr["seen"], fpp=0.01)

    def tear_down(self):
        self.sidecar.destroy()

    @property
    def items(self):
        return self.props["frontier"]["candidates"]

    def op(self):
        fr = self.props["frontier"]
        return run_round_kernel(self.spark, fr["candidates"], fr["seen"], fr["texts"],
                                sidecar=self.sidecar, input_root=self.inputs)

    def warm_up(self):
        self.op()

    def oracle(self):
        fr = self.props["frontier"]
        with open(f"{self.inputs}/admitted.txt") as fh:
            expected = set(fh.read().split("\n"))
        reg: list = []
        got = {r.url for r in admission_kernel(
            self.spark, fr["candidates"], fr["seen"], sidecar=self.sidecar, cache_registry=reg,
            cand=self.spark.read.parquet(f"{self.inputs}/cand"),
            seen=self.spark.read.parquet(f"{self.inputs}/seen")).select("url").collect()}
        for c in reg:
            c.unpersist()
        self.run.check(got == expected, "admitted URL set == generator ground truth")

    def verify(self, out):
        fr = self.props["frontier"]
        return (out["n_admitted"] == fr["admitted"]
                and out["n_duplicates"] == fr["text_duplicate_rows"])


def pairs_pass(pairs) -> tuple[dict, dict]:
    """verify_invariants over every row, then the funnel's stage counters."""
    ok = F.col("shape_ok") & F.col("phash_ok") & F.col("quality_ok")
    v = verify_invariants(pairs).agg(
        F.count(F.lit(1)).alias("n"), F.sum((~ok).cast("int")).alias("bad")).collect()[0]
    reg: list = []
    s = funnel_summary(pair_funnel(pairs, cache_registry=reg)).collect()[0]
    for c in reg:
        c.unpersist()
    return v.asDict(), s.asDict()


class ImagePairs(Workload):
    min_ops = 2  # a pass is ~40 Spark jobs: two passes fill the run's seconds

    @property
    def items(self):
        return self.props["pairs"]["pairs"]

    def set_up(self, spark, k):
        self.spark = spark
        self.pairs = spark.read.parquet(f"{self.inputs}/pairs").persist()
        self.pairs.count()

    def tear_down(self):
        self.pairs.unpersist()

    def warm_up(self):
        pairs_pass(self.pairs)

    def oracle(self):
        import pyarrow.parquet as pq

        meta = pq.read_table(f"{self.inputs}/pairs",
                             columns=["image_id", "w", "h", "caption", "phash"]).to_pandas()
        self.expected = funnel_counters(meta)
        self.run.check(0 < self.expected["n_selected"] < len(meta), "funnel mirror is non-trivial")

    def op(self):
        return pairs_pass(self.pairs)

    def verify(self, out):
        v, s = out
        return (v["n"] == self.props["pairs"]["pairs"] and v["bad"] == 0
                and {k: s[k] for k in COUNTERS} == self.expected)


WORKLOADS = {"frontier_round": FrontierRound, "image_pairs": ImagePairs}
