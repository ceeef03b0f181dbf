"""Seeded input generators for the benchmark workloads.

Every workload has a fixed shape (document counts, planted cluster sizes,
manifest strata); the seed only draws the content (vocabulary,
word choices, edits, ids). Runs on different seeds therefore do the same
amount of work on different text, which keeps run-to-run spread low while
still exercising the hashing-dependent parts (LSH buckets, CC shapes).

Outputs go to <dir>/ as parquet files plus truth.json, which holds what the
per-iteration checks need (planted exact-duplicate groups, stratum sizes)
and the generator-side input properties.
"""

import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# The engine's stopword list (TextFunctions.stopwordRatio): they lead the
# Zipf ranking so that normal documents pass the default quality gate.
STOPWORDS = ["the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
             "that", "for"]
VOCAB = 60000
ZIPF_S = 1.0
LETTERS = np.array(list("abcdefghijklmnopqrstuvwxyz"))

# Input sizes, as multiples of the base shapes below: the input of the timed
# iterations, and the small input of the same shape that the untimed cold
# iteration runs on (see NOTES.md).
SCALE = {"curate": 3.0, "feed": 5.0}
WARMUP_SCALE = 0.25

# curate, per 4,000 docs: (size, count) of the exact-duplicate groups and of
# the near-duplicate clusters, heavy-tailed, plus one giant near-duplicate
# cluster (an edit tree) for the whole corpus.
EXACT_GROUPS = [(2, 80), (3, 32), (5, 12), (10, 4), (25, 2), (40, 1)]
NEAR_CLUSTERS = [(2, 120), (3, 48), (4, 24), (6, 12), (10, 6), (20, 3),
                 (40, 1)]
GIANT_CLUSTER = 150
CURATE_DOCS = 4000
LOW_QUALITY_SHARE = 0.08
# Boilerplate pages, per 4,000 docs: one shared long line with two words
# swapped per page. Their band buckets overfill the 64-doc cap, so the cap
# has work to do.
TEMPLATE_DOCS = 150
BOILERPLATE_LINES = 20
# A boilerplate line lands in ~4.5% of the docs; the df cap scrubs it. The
# cap stays above twice the largest exact-duplicate group, whose own lines
# would otherwise read as boilerplate.
LINE_SCRUB_DF_SHARE = 0.015

# feed, per 2,000 stems: stems per difficulty, metric scores, packing corpus.
STEMS = {"easy": 1000, "medium": 600, "hard": 400}
INCOMPLETE_SHARE = 0.12
NON_IMAGE_SHARE = 0.10
MODELS = ["catvton", "idmvton", "ootd", "stableviton"]
METRICS = ["lpips", "ssim", "fid"]
SOURCES = {"web": 1200, "books": 500, "code": 200, "wiki": 80, "forums": 30,
           "papers": 10}
UNSEEN_STEMS = 100


def _scaled(spec, f):
    return [size for size, n in spec for _ in range(max(1, round(n * f)))]


def _vocab(rng):
    words = set(STOPWORDS)
    out = list(STOPWORDS)
    while len(out) < VOCAB:
        n = 4096
        lens = rng.integers(3, 11, n)
        raw = LETTERS[rng.integers(0, 26, (n, 10))]
        for row, k in zip(raw, lens):
            w = "".join(row[:k])
            if w not in words:
                words.add(w)
                out.append(w)
                if len(out) == VOCAB:
                    break
    return np.array(out)


class Text:
    """Zipf word source over a seeded vocabulary."""

    def __init__(self, rng):
        self.rng = rng
        self.vocab = _vocab(rng)
        p = 1.0 / np.arange(1, VOCAB + 1) ** ZIPF_S
        self.cdf = np.cumsum(p / p.sum())

    def words(self, n):
        return self.vocab[np.minimum(
            np.searchsorted(self.cdf, self.rng.random(n)), VOCAB - 1)]

    def lines(self, n_lines, lo=8, hi=16):
        ends = np.cumsum(self.rng.integers(lo, hi, n_lines))
        ws = self.words(int(ends[-1]))
        return [" ".join(ws[e - k:e]) + "." for e, k in
                zip(ends, np.diff(ends, prepend=0))]

    def doc_lines(self):
        return self.lines(int(self.rng.integers(5, 10)))

    def low_quality(self):
        junk = ["$$$", "###", "!!!", "@@", "%%", "&&&", "***", ">>>"]
        toks = list(self.words(6)) + list(self.rng.choice(junk, 10))
        self.rng.shuffle(toks)
        return " ".join(toks)

    def edit(self, lines, rate):
        """Replace about `rate` of the words; keeps line structure."""
        out = []
        for line in lines:
            ws = line[:-1].split(" ")
            hit = self.rng.random(len(ws)) < rate
            if hit.any():
                new = self.words(int(hit.sum()))
                ws = [new_w if h else w for w, h, new_w in
                      zip(ws, hit, _spread(new, hit))]
            out.append(" ".join(ws) + ".")
        return out


def _spread(new, hit):
    it = iter(new)
    return [next(it) if h else None for h in hit]


def _with_boilerplate(t, lines, boiler):
    if t.rng.random() < 0.6:
        for _ in range(int(t.rng.integers(1, 3))):
            lines = list(lines)
            lines.insert(int(t.rng.integers(0, len(lines) + 1)),
                         boiler[int(t.rng.integers(0, len(boiler)))])
    return lines


def _write(path, table, files=8):
    os.makedirs(path, exist_ok=True)
    n = table.num_rows
    step = (n + files - 1) // files
    for i in range(files):
        part = table.slice(i * step, step)
        if part.num_rows:
            pq.write_table(part, os.path.join(path, f"part-{i:05d}.parquet"))


def _docs_table(ids, texts):
    return pa.table({"doc_id": pa.array(ids, pa.int64()),
                     "text": pa.array(texts, pa.string())})


def _edit_tree(t, root, size, rate):
    """`size` near-copies: each node edits a random earlier node."""
    nodes = [root]
    while len(nodes) < size:
        nodes.append(t.edit(nodes[int(t.rng.integers(0, len(nodes)))], rate))
    return nodes


def gen_curate(seed, out, f):
    t = Text(np.random.default_rng([seed, 1]))
    exact_groups = _scaled(EXACT_GROUPS, f)
    near_clusters = _scaled(NEAR_CLUSTERS, f) + [round(GIANT_CLUSTER * f)]
    templates = max(1, round(f))
    n_docs = round(CURATE_DOCS * f)
    n_low = round(n_docs * LOW_QUALITY_SHARE)
    boiler = t.lines(BOILERPLATE_LINES, 6, 10)
    texts, exact = [], []
    for g in exact_groups:
        body = "\n".join(_with_boilerplate(t, t.doc_lines(), boiler))
        exact.append(list(range(len(texts), len(texts) + g)))
        texts += [body] * g
    for c in near_clusters:
        rate = 0.12 if c > 40 else 0.06
        for lines in _edit_tree(t, t.doc_lines(), c, rate):
            texts.append("\n".join(_with_boilerplate(t, lines, boiler)))
    for _ in range(n_low):
        texts.append(t.low_quality())
    for _ in range(templates):
        template = t.lines(1, 60, 61)
        for _ in range(TEMPLATE_DOCS):
            texts.append(t.edit(template, 2 / 60)[0])
    while len(texts) < n_docs:
        texts.append("\n".join(_with_boilerplate(t, t.doc_lines(), boiler)))
    ids = t.rng.permutation(len(texts)) + 1
    order = np.argsort(ids)
    _write(os.path.join(out, "docs"),
           _docs_table(ids[order], [texts[i] for i in order]))
    planted = sum(exact_groups) - len(exact_groups) + \
        sum(near_clusters) - len(near_clusters) + \
        templates * (TEMPLATE_DOCS - 1)
    sizes = exact_groups + near_clusters
    return {
        "exact_groups": [[int(ids[i]) for i in g] for g in exact],
        "line_scrub_df": max(2 * max(exact_groups),
                             round(LINE_SCRUB_DF_SHARE * len(texts))),
        "props": {
            "docs": len(texts), "vocab": VOCAB,
            "planted_dup_share": round(planted / len(texts), 4),
            "cluster_max": max(sizes),
            "cluster_median": float(np.median(sizes)),
            "low_quality_share": round(n_low / len(texts), 4),
            "template_docs": templates * TEMPLATE_DOCS,
        },
    }


def gen_feed(seed, out, f):
    rng = np.random.default_rng([seed, 3])
    stems = {d: round(n * f) for d, n in STEMS.items()}
    sources = {src: max(1, round(n * f)) for src, n in SOURCES.items()}
    keys, prefixes, complete = [], [], {}
    stems_by_diff = {}
    serial = 0
    for diff, n in stems.items():
        prefix = f"s3://vton-data/train/{diff}/"
        stems_by_diff[diff] = []
        complete[diff] = 0
        for _ in range(n):
            serial += 1
            stem = f"{diff[0]}{rng.integers(10**9):09d}x{serial}"
            roles = [f"{stem}_person.jpg",
                     f"{stem}_cloth_{int(rng.integers(1, 9))}.jpg",
                     f"{stem}_vton.png"]
            if rng.random() < INCOMPLETE_SHARE:
                roles.pop(int(rng.integers(0, 3)))
            else:
                complete[diff] += 1
                stems_by_diff[diff].append(stem)
            for r in roles:
                keys.append(prefix + r)
                prefixes.append(prefix)
    n_img = len(keys)
    for _ in range(int(n_img * NON_IMAGE_SHARE)):
        diff = list(stems)[int(rng.integers(0, 3))]
        prefix = f"s3://vton-data/train/{diff}/"
        ext = ["json", "txt", "csv"][int(rng.integers(0, 3))]
        keys.append(f"{prefix}meta_{rng.integers(10**9):09d}.{ext}")
        prefixes.append(prefix)
    perm = rng.permutation(len(keys))
    _write(os.path.join(out, "manifest"), pa.table({
        "key": pa.array([keys[i] for i in perm], pa.string()),
        "prefix": pa.array([prefixes[i] for i in perm], pa.string())}))

    test_stems = stems_by_diff["hard"] + stems_by_diff["medium"]
    _write(os.path.join(out, "test_manifest"),
           pa.table({"stem": pa.array(test_stems, pa.string())}), files=2)
    score_stems = test_stems + [f"unseen{i}" for i in range(round(UNSEEN_STEMS * f))]
    n = len(score_stems)
    model_col, stem_col, metric_col, val_col = [], [], [], []
    for m in MODELS:
        for metric in METRICS:
            model_col += [m] * n
            stem_col += score_stems
            metric_col += [metric] * n
            val_col.append(np.round(rng.random(n), 6))
    _write(os.path.join(out, "scores"), pa.table({
        "model": pa.array(model_col, pa.string()),
        "stem": pa.array(stem_col, pa.string()),
        "metric": pa.array(metric_col, pa.string()),
        "value": pa.array(np.concatenate(val_col), pa.float64())}))

    t = Text(np.random.default_rng([seed, 4]))
    ids, srcs, texts = [], [], []
    for src, n_docs in sources.items():
        for _ in range(n_docs):
            ids.append(len(ids) + 1)
            srcs.append(src)
            texts.append(" ".join(t.words(int(t.rng.integers(30, 240)))))
    perm = t.rng.permutation(len(ids))
    _write(os.path.join(out, "corpus"), pa.table({
        "doc_id": pa.array([ids[i] for i in perm], pa.int64()),
        "source": pa.array([srcs[i] for i in perm], pa.string()),
        "text": pa.array([texts[i] for i in perm], pa.string())}))

    total = sum(stems.values())
    return {
        "complete": complete,
        "metrics": METRICS,
        "models": len(MODELS),
        "props": {
            "stems": total, "manifest_rows": len(keys),
            "incomplete_triplet_share": round(
                1 - sum(complete.values()) / total, 4),
            "non_image_share": round((len(keys) - n_img) / len(keys), 4),
            "corpus_docs": len(ids), "sources": len(sources),
            "source_skew": sources["web"] / sources["papers"],
        },
    }


GENERATORS = {"curate": gen_curate, "feed": gen_feed}


def _generate(workload, seed, out, f):
    tmp = out + ".tmp"
    if os.path.exists(tmp):
        shutil.rmtree(tmp)
    info = GENERATORS[workload](seed, tmp, f)
    with open(os.path.join(tmp, "truth.json"), "w") as fh:
        json.dump(info, fh)
    os.rename(tmp, out)


def ensure(workload, seed, cache):
    """Generates the inputs for (workload, seed) unless already cached and
    returns their directory; the cold iteration's small input is its
    `warmup` subdirectory.

    The cache key includes a hash of this file, so a changed generator
    never serves inputs it did not make.
    """
    with open(__file__, "rb") as fh:
        version = hashlib.sha256(fh.read()).hexdigest()[:12]
    out = os.path.join(cache, workload, f"seed-{seed}-{version}")
    if not os.path.exists(os.path.join(out, "warmup")):
        shutil.rmtree(out, ignore_errors=True)
        _generate(workload, seed, out, SCALE[workload])
        _generate(workload, seed, os.path.join(out, "warmup"), WARMUP_SCALE)
    return out
