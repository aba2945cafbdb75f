"""Seeded input generation for the benchmark workloads.

Every table is a pure function of (workload sizing, seed) and is written
as parquet with pyarrow, so generation needs no Spark session and stays
outside every timed region. ``ensure_inputs`` caches one directory per
(workload, seed); a ``props.json`` beside the tables records the input
properties the system's behaviour depends on (row counts, duplicate and
near-duplicate shares, seen-overlap share, host/size/format mix, the
query-mix Zipf exponent).
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from webcrawler_spark.functions.images import decode_image, encode_image, phash64

# words for captions and page texts (ASCII so Java regex and RE2 agree)
_WORDS = (
    "podatki storitve obrazec vloga zakon uprava register prostor davki "
    "promet okolje zdravje sola delo trg evidenca potrdilo narocilo sistem "
    "informacije objava razpis sklep porocilo analiza statistika karta"
).split()
STOPWORDS = ("the", "and", "of", "to", "a", "in", "is", "for", "on", "with")


def _write(table: pa.Table, path: str, n_files: int) -> None:
    os.makedirs(path, exist_ok=True)
    rows = table.num_rows
    step = -(-rows // n_files)
    for i in range(n_files):
        part = table.slice(i * step, step)
        if part.num_rows:
            pq.write_table(part, f"{path}/part-{i:05d}.parquet")


def _zipf_ranks(rng: np.random.Generator, s: float, n: int, size: int) -> np.ndarray:
    """Ranks in [0, n) with P(rank r) proportional to 1 / (r + 1) ** s."""
    p = 1.0 / np.power(np.arange(1, n + 1), s)
    return rng.choice(n, size=size, p=p / p.sum())


def gen_frontier(rng: np.random.Generator, out: str, cfg: dict) -> dict:
    """Candidate links, carried seen set and page texts for one round.

    Candidates: messy raw variants (.html, query strings, fragments) of
    target pages on Zipf-skewed hosts, ~9% out-of-scope hosts, binary and
    /private/ targets, and javascript:/mailto: traps. The seen set holds
    ``seen_overlap`` of the admissible targets plus pages no candidate
    links to. Texts: ``dup_share`` of rows are whitespace/case variants
    of an earlier text (identical after lower + whitespace collapse).

    The generator knows the answer: ``admitted.txt`` lists the canonical
    URLs a correct round admits and ``text_duplicate_rows`` counts the
    rows a correct content dedup flags."""
    n_cand, n_seen, n_texts, n_hosts = (
        cfg["candidates"], cfg["seen"], cfg["texts"], cfg["hosts"])
    host_names = np.array([
        f"x{k}.example.com" if k % 11 == 0 else f"h{k}.gov.si" for k in range(n_hosts)
    ], dtype=object)
    n_targets = max(1, n_cand // 2)
    t_host = _zipf_ranks(rng, cfg["host_zipf"], n_hosts, n_targets)
    t_kind = rng.choice(3, size=n_targets, p=[0.9, 0.05, 0.05])  # page, /private/, binary
    targets = np.array([
        f"http://{host_names[h]}/" + (f"p{j}" if k == 0 else f"private/p{j}" if k == 1 else f"d{j}.pdf")
        for j, (h, k) in enumerate(zip(t_host, t_kind))
    ], dtype=object)
    admissible = (t_kind == 0) & (t_host % 11 != 0)

    pick = rng.integers(0, n_targets, size=n_cand)
    noise = rng.integers(0, 6, size=n_cand)
    salt = rng.integers(0, 1000, size=n_cand)
    raw = []
    for t, nz, s in zip(targets[pick], noise, salt):
        if nz == 1:
            t = t + ".html"
        elif nz == 2:
            t = f"{t}?utm_source=x&ref={s}"
        elif nz == 3:
            t = f"{t}#sec{s}"
        raw.append(t)
    trap = rng.random(n_cand)
    raw = np.array(raw, dtype=object)
    raw[trap < 0.01] = "javascript:void(0)"
    raw[(trap >= 0.01) & (trap < 0.015)] = "mailto:info@gov.si"
    idx = np.arange(n_cand)
    _write(pa.table({
        "parent_seq": pa.array(idx // 40, pa.int64()),
        "pos": pa.array(idx % 40, pa.int64()),
        "raw": pa.array(raw.tolist(), pa.string()),
    }), f"{out}/cand", cfg["files"])

    linked = np.unique(pick[trap >= 0.015])
    linked_adm = linked[admissible[linked]]
    n_overlap = min(n_seen, int(round(cfg["seen_overlap"] * len(linked_adm))))
    in_seen = rng.choice(linked_adm, size=n_overlap, replace=False)
    extra_hosts = rng.integers(0, n_hosts, size=n_seen - n_overlap)
    seen = targets[in_seen].tolist() + [
        f"http://{host_names[h]}/q{j}" for j, h in enumerate(extra_hosts)
    ]
    rng.shuffle(seen)
    _write(pa.table({"url": pa.array(seen, pa.string())}), f"{out}/seen", cfg["files"])
    # ground truth of admission: linked admissible targets not yet seen
    admitted = np.setdiff1d(linked_adm, in_seen)
    with open(f"{out}/admitted.txt", "w") as fh:
        fh.write("\n".join(sorted(targets[admitted].tolist())))

    texts, n_dup = [], 0
    for i in range(n_texts):
        if i > 0 and rng.random() < cfg["dup_share"]:
            src = texts[int(rng.integers(0, i))]
            texts.append(src.upper().replace(" ", "  ") if i % 2 else src.replace(" ", " \t"))
            n_dup += 1
        else:
            words = rng.choice(_WORDS, size=int(rng.integers(6, 14)))
            texts.append(" ".join(words.tolist()) + f" doc{i}")
    _write(pa.table({
        "seq": pa.array(np.arange(n_texts), pa.int64()),
        "text": pa.array(texts, pa.string()),
    }), f"{out}/texts", cfg["files"])
    return {
        "candidates": n_cand, "seen": n_seen, "texts": n_texts, "hosts": n_hosts,
        "host_zipf": cfg["host_zipf"],
        "out_of_scope_host_share": round(float(np.mean(t_host % 11 == 0)), 4),
        "raw_per_target": round(n_cand / len(np.unique(pick)), 3),
        "seen_overlap_share": round(n_overlap / max(1, len(linked_adm)), 4),
        "admitted": len(admitted),
        "text_duplicate_rows": n_dup,
        "text_duplicate_share": round(n_dup / n_texts, 4),
    }


def _render(rng: np.random.Generator, w: int, h: int) -> np.ndarray:
    """Smooth gradient + disc: natural-image-like, so the lossy codec
    keeps PSNR well above 40 dB."""
    x = np.linspace(0, 1, w)[None, :]
    y = np.linspace(0, 1, h)[:, None]
    img = np.stack([
        x * rng.uniform(100, 220) + y * rng.uniform(10, 60),
        y * rng.uniform(100, 200) + x * rng.uniform(10, 60),
        (x + y) * rng.uniform(40, 120) + rng.uniform(0, 40),
    ], axis=-1)
    cx, cy, rad = rng.uniform(0.2, 0.8), rng.uniform(0.2, 0.8), rng.uniform(0.1, 0.35)
    mask = (x - cx) ** 2 + (y - cy) ** 2 < rad ** 2
    img[mask] = img[mask] * 0.5 + rng.uniform(50, 120)
    return np.clip(img, 0, 255).astype(np.uint8)


def gen_pairs(rng: np.random.Generator, out: str, cfg: dict) -> dict:
    """The input_hint table (image_id, bytes, w, h, fmt, caption, phash).

    ``neardup_share`` of rows re-encode an earlier image's pixels with a
    small brightness shift (a planted near-duplicate); ``repeat_share``
    carry one of a few boilerplate captions; ``bad_caption_share`` carry a
    caption that fails the gates (NULL, empty or one token). ``phash`` is
    the hash of the stored artifact, as in the program's own fixtures."""
    n = cfg["pairs"]
    sizes = np.array(cfg["sizes"])
    rows, bases = [], []
    n_near = n_rep = n_bad = 0
    for i in range(n):
        if bases and rng.random() < cfg["neardup_share"]:
            px = bases[int(rng.integers(0, len(bases)))]
            px = np.clip(px.astype(np.int16) + int(rng.integers(1, 4)), 0, 255).astype(np.uint8)
            n_near += 1
        else:
            px = _render(rng, int(rng.choice(sizes)), int(rng.choice(sizes)))
            bases.append(px)
        fmt = "png" if rng.random() < cfg["png_share"] else "jpeg"
        data = encode_image(px, fmt)
        r = rng.random()
        if r < cfg["bad_caption_share"]:
            caption = (None, "", "x")[i % 3]
            n_bad += 1
        elif r < cfg["bad_caption_share"] + cfg["repeat_share"]:
            caption = f"stock photo of a product {int(rng.integers(0, 4))}"
            n_rep += 1
        else:
            caption = " ".join(rng.choice(_WORDS, size=int(rng.integers(3, 8))).tolist()) + f" n{i}"
        rows.append((f"img{i:010d}", data, px.shape[1], px.shape[0], fmt, caption,
                     phash64(decode_image(data))))
    cols = list(zip(*rows))
    table = pa.table({
        "image_id": pa.array(cols[0], pa.string()),
        "bytes": pa.array(cols[1], pa.binary()),
        "w": pa.array(cols[2], pa.int32()),
        "h": pa.array(cols[3], pa.int32()),
        "fmt": pa.array(cols[4], pa.string()),
        "caption": pa.array(cols[5], pa.string()),
        "phash": pa.array(cols[6], pa.int64()),
    })
    _write(table, f"{out}/pairs", cfg["files"])
    px_count = np.array(cols[2]) * np.array(cols[3])
    return {
        "pairs": n, "sizes_px": cfg["sizes"],
        "png_share": round(cols[4].count("png") / n, 4),
        "mean_pixels": round(float(px_count.mean()), 1),
        "neardup_share": round(n_near / n, 4),
        "repeated_caption_share": round(n_rep / n, 4),
        "failing_caption_share": round(n_bad / n, 4),
        "payload_bytes": int(sum(len(b) for b in cols[1])),
    }


def gen_corpus(rng: np.random.Generator, out: str, cfg: dict) -> dict:
    """Documents over a Zipf-used vocabulary (plus stopwords and
    punctuation) and a closed-loop query list: 1-3 terms, Zipf over the
    vocabulary ranks, ``miss_share`` of terms absent from every doc."""
    vocab = [f"t{r}" for r in range(cfg["vocab"])]
    docs = []
    for d in range(cfg["docs"]):
        n_tok = int(rng.integers(20, 80))
        ranks = _zipf_ranks(rng, cfg["word_zipf"], cfg["vocab"], n_tok)
        toks = [vocab[r] for r in ranks]
        for j in rng.choice(n_tok, size=n_tok // 5, replace=False):
            toks[j] = STOPWORDS[int(j) % len(STOPWORDS)]
        docs.append(", ".join(" ".join(toks[k:k + 7]) for k in range(0, n_tok, 7)) + ".")
    _write(pa.table({
        "doc_id": pa.array(np.arange(cfg["docs"]), pa.int64()),
        "text": pa.array(docs, pa.string()),
    }), f"{out}/docs", cfg["files"])
    queries, n_miss, n_terms = [], 0, 0
    for _ in range(cfg["queries"]):
        k = int(rng.integers(1, 4))
        terms = []
        for r in _zipf_ranks(rng, cfg["query_zipf"], cfg["vocab"], k):
            if rng.random() < cfg["miss_share"]:
                terms.append(f"zq{int(rng.integers(0, 10**6))}x")
                n_miss += 1
            else:
                terms.append(vocab[r])
        n_terms += k
        queries.append(" ".join(terms))
    with open(f"{out}/queries.json", "w") as fh:
        json.dump(queries, fh)
    return {
        "docs": cfg["docs"], "vocab": cfg["vocab"], "word_zipf": cfg["word_zipf"],
        "queries": cfg["queries"], "query_zipf": cfg["query_zipf"],
        "query_miss_term_share": round(n_miss / n_terms, 4),
        "mean_terms_per_query": round(n_terms / cfg["queries"], 3),
    }


def ensure_inputs(root: str, workload: str, seed: int, sizing: dict) -> tuple[str, dict]:
    """Generate (once per workload and seed) and return (dir, properties)."""
    out = os.path.join(root, f"{workload}-s{seed}")
    props_path = f"{out}/props.json"
    if os.path.exists(props_path):
        with open(props_path) as fh:
            return out, json.load(fh)
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    # independent streams per table: resizing one table leaves the others'
    # contents unchanged for the same seed
    streams = np.random.SeedSequence([seed, 0xBE7C]).spawn(3)
    props = {
        "workload": workload, "seed": seed,
        "frontier": gen_frontier(np.random.default_rng(streams[0]), out, sizing["frontier"]),
        "pairs": gen_pairs(np.random.default_rng(streams[1]), out, sizing["pairs"]),
        "corpus": gen_corpus(np.random.default_rng(streams[2]), out, sizing["corpus"]),
    }
    tmp = props_path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(props, fh, indent=1)
    os.replace(tmp, props_path)  # marker written last: its presence certifies the tables
    return out, props
