"""Per-layer spans of a traced run: one call into each layer's public
functions over the workload's own tables, timed from this side of the
boundary, with the layer name as the Spark job group."""

from __future__ import annotations

import json
import math
import os
import shutil
import statistics
import time

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from spans import Tracer
from webcrawler_spark.crawl.kernel import admission_kernel, dedup_kernel
from webcrawler_spark.curation import pair_curation_flags
from webcrawler_spark.functions.bloom import build_sharded_bloom
from webcrawler_spark.functions.images import decode_image, encode_image, phash64
from webcrawler_spark.functions.urls import (
    canonicalize_url, in_containment, is_binary_extension, is_rejected_scheme, url_host)
from webcrawler_spark.index.build import bucket_of_term, build_postings, write_index
from webcrawler_spark.index.search import IndexLookupService
from webcrawler_spark.multimodal import verify_invariants
from webcrawler_spark.multimodal.funnel import funnel_summary, pair_funnel

# layers whose Spark work is tallied from the event log, by job group
SPANS = ("functions.urls", "functions.bloom", "crawl.kernel", "multimodal", "curation", "index")
IMAGE_SAMPLE = 16
INDEX_BUCKETS = 16
LOOKUPS = 1100  # one client, closed loop: p99 has 11 samples beyond it


def open_index(path: str) -> IndexLookupService:
    """The lookup service with every bucket's dataset handle opened (one
    lookup of a vocabulary term from each bucket)."""
    svc = IndexLookupService(path, buckets=INDEX_BUCKETS)
    terms: dict[int, str] = {}
    r = 0
    while len(terms) < INDEX_BUCKETS:
        terms.setdefault(bucket_of_term(f"t{r}", INDEX_BUCKETS), f"t{r}")
        r += 1
    for t in terms.values():
        svc.lookup(t)
    return svc


def probe_layers(spark, work: str, inputs: str, props: dict, tracer: Tracer) -> dict:
    """{metric name: (value, unit)} for every per-layer metric except the
    set-up and event-log ones, which the caller adds."""
    sc = spark.sparkContext
    fr = props["frontier"]
    out: dict[str, tuple[float, str]] = {}
    wall = tracer.walls
    cand = spark.read.parquet(f"{inputs}/cand")
    seen = spark.read.parquet(f"{inputs}/seen")
    texts = spark.read.parquet(f"{inputs}/texts")

    with tracer.span(sc, "functions.urls", "canonicalize"):
        canon = cand.select(canonicalize_url(F.col("raw")).alias("url"))
        canon.select(F.bit_xor(F.xxhash64("url", url_host(F.col("url"))))).collect()
    out["functions.urls.canonicalize_s"] = (wall["canonicalize"], "s")

    sidecar = build_sharded_bloom(seen, "url", path=os.path.join(work, "sidecar-traced"),
                                  n_shards=int(spark.conf.get("spark.sql.shuffle.partitions")),
                                  expected_items=fr["seen"], fpp=0.01)
    # the admission kernel's probe input: distinct admissible canonical urls
    adm = (cand.filter(~is_rejected_scheme(F.col("raw")))
           .select(canonicalize_url(F.col("raw")).alias("url"))
           .select("url", url_host(F.col("url")).alias("host"))
           .filter((F.col("url") != "") & F.col("host").isNotNull()
                   & in_containment(F.col("host")) & ~is_binary_extension(F.col("url"))
                   & ~F.col("url").contains("/private/"))
           .select("url").distinct().persist())
    n_adm = adm.count()
    with tracer.span(sc, "functions.bloom", "probe"):
        n_maybe = adm.select(sidecar.probe(F.col("url")).cast("int").alias("m")).agg(
            F.sum("m")).collect()[0][0]
    fp = (adm.withColumn("m", sidecar.probe(F.col("url")))
          .join(seen.select("url", F.lit(True).alias("member")), "url", "left")
          .agg(F.sum(F.col("member").isNotNull().cast("int")).alias("members"),
               F.sum((F.col("m") & F.col("member").isNull()).cast("int")).alias("fp"))
          .collect()[0])
    adm.unpersist()
    out["functions.bloom.probe_s"] = (wall["probe"], "s")
    out["functions.bloom.maybe_frac"] = (n_maybe / n_adm, "frac")
    out["functions.bloom.fp_rate"] = (fp["fp"] / max(1, n_adm - fp["members"]), "frac")

    reg: list = []
    with tracer.span(sc, "crawl.kernel", "admission"):
        admitted = admission_kernel(spark, fr["candidates"], fr["seen"], sidecar=sidecar,
                                    cache_registry=reg, cand=cand, seen=seen).count()
    for c in reg:
        c.unpersist()
    sidecar.destroy()
    with tracer.span(sc, "crawl.kernel", "dedup"):
        dups = dedup_kernel(spark, fr["texts"], texts=texts).filter("is_duplicate").count()
    out["crawl.kernel.admission_s"] = (wall["admission"], "s")
    out["crawl.kernel.dedup_s"] = (wall["dedup"], "s")
    out["crawl.kernel.admitted_rows"] = (admitted, "count")
    out["crawl.kernel.duplicate_rows"] = (dups, "count")

    # driver-side codec calls on a fixed sample (the first rows by image_id)
    sample = pq.read_table(f"{inputs}/pairs", columns=["image_id", "bytes", "fmt"]).to_pandas()
    sample = sample.sort_values("image_id").head(IMAGE_SAMPLE)
    dec, enc, ph = [], [], []
    for _ in range(3):
        for b, fmt in zip(sample["bytes"], sample["fmt"]):
            t0 = time.perf_counter()
            px = decode_image(bytes(b))
            t1 = time.perf_counter()
            encode_image(px, fmt)
            t2 = time.perf_counter()
            phash64(px)
            t3 = time.perf_counter()
            dec.append(t1 - t0)
            enc.append(t2 - t1)
            ph.append(t3 - t2)
    out["functions.images.decode_us"] = (float(np.median(dec)) * 1e6, "us")
    out["functions.images.encode_us"] = (float(np.median(enc)) * 1e6, "us")
    out["functions.images.phash_us"] = (float(np.median(ph)) * 1e6, "us")

    pairs = spark.read.parquet(f"{inputs}/pairs").persist()
    pairs.count()
    with tracer.span(sc, "multimodal", "verify"):
        verify_invariants(pairs).agg(F.sum(F.col("shape_ok").cast("int"))).collect()
    reg = []
    with tracer.span(sc, "multimodal", "funnel"):
        s = funnel_summary(pair_funnel(pairs, cache_registry=reg)).collect()[0]
    for c in reg:
        c.unpersist()
    with tracer.span(sc, "curation", "pair_flags"):
        pair_curation_flags(pairs).agg(F.sum(F.col("keep").cast("int"))).collect()
    pairs.unpersist()
    out["multimodal.verify_s"] = (wall["verify"], "s")
    out["multimodal.funnel_s"] = (wall["funnel"], "s")
    out["multimodal.selected_frac"] = (s["n_selected"] / s["n_input"], "frac")
    out["curation.pair_flags_s"] = (wall["pair_flags"], "s")

    docs = spark.read.parquet(f"{inputs}/docs").persist()
    docs.count()
    path = os.path.join(work, "index-traced")
    with tracer.span(sc, "index", "build_postings"):
        postings = build_postings(docs).persist()
        postings.count()
    with tracer.span(sc, "index", "write"):
        write_index(postings, path, buckets=INDEX_BUCKETS)
    postings.unpersist()
    docs.unpersist()
    files = size = 0
    per_bucket = []
    for dirpath, _, names in os.walk(path):
        files += len(names)
        size += sum(os.path.getsize(os.path.join(dirpath, n)) for n in names)
        if os.path.basename(dirpath).startswith("bucket="):
            per_bucket.append(sum(n.endswith(".parquet") for n in names))
    out["index.build_postings_s"] = (wall["build_postings"], "s")
    out["index.write_s"] = (wall["write"], "s")
    out["index.files_per_bucket"] = (sum(per_bucket) / len(per_bucket), "count")
    out["storage.files_written"] = (files, "count")
    out["storage.bytes_written"] = (size, "bytes")

    with open(f"{inputs}/queries.json") as fh:
        queries = json.load(fh)
    t0 = time.perf_counter()
    svc = open_index(path)
    out["index.open_ms"] = ((time.perf_counter() - t0) * 1e3, "ms")
    lat = []
    for i in range(LOOKUPS):
        t0 = time.perf_counter()
        svc.lookup(queries[i % len(queries)])
        lat.append(time.perf_counter() - t0)
    lat.sort()
    out["index.lookup_p50_ms"] = (statistics.median(lat) * 1e3, "ms")
    out["index.lookup_p99_ms"] = (lat[math.ceil(0.99 * len(lat)) - 1] * 1e3, "ms")
    shutil.rmtree(path, ignore_errors=True)
    return out
