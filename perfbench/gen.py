"""Seeded input generators for the benchmark workloads.

Every table is a pure function of (workload, seed): the same seed writes
byte-identical parquet, another seed writes different data. The program
under test only ever sees the files written here.

* ``corpus`` (llm_curate) - ``documents`` and ``embeddings`` in the shape
  of the sf0.1 test tables (random text over a 30-word vocabulary, unit
  vectors with a label) with planted exact duplicates, token-edit
  near-duplicates, URLs (two blocked domains, a few hosts over the cap),
  PII and benchmark leakage, plus the ``benchmark`` eval suite and the
  planted duplicate groups.
* ``series`` (ts_synth) - a long time-series table: entities with
  irregular, gappy timestamps over a year, 3 numeric and 1 categorical
  column.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part fast "
         "row the agg key query a scan batch").split()
LANGS = np.array(["en", "zh", "es", "fr", "de"])
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
DAY_US = 86_400 * 1_000_000


def _rng(seed, salt):
    return np.random.default_rng([int(seed), salt])


def _write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def _ts(epoch_us):
    return pa.array(epoch_us, type=pa.timestamp("us"))


def _day_us(y, m, d):
    return int(np.datetime64(f"{y:04d}-{m:02d}-{d:02d}", "us").astype(np.int64))


def _texts(rng, n, lo, hi):
    lens = rng.integers(lo, hi + 1, n)
    words = rng.integers(0, len(VOCAB), int(lens.sum()))
    vocab = np.array(VOCAB)[words]
    out, at = [], 0
    for k in lens:
        out.append(" ".join(vocab[at:at + k]))
        at += k
    return out


def _unit_vectors(rng, n, dim=64):
    v = rng.standard_normal((n, dim)).astype(np.float32)
    return v / np.linalg.norm(v, axis=1, keepdims=True)


def _embeddings(rng, n):
    vecs = _unit_vectors(rng, n)
    return {
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n).astype(np.int32)),
    }


# ---- llm_curate --------------------------------------------------------

BLOCKED_DOMAINS = ["spamfarm.com", "clickbait.net"]
MAX_DOCS_PER_HOST = 40
# The sf0.1 documents/embeddings sizes: under the Spark-defaults posture a
# curate pass is dominated by per-job cost, and a run of a larger corpus
# does not fit the benchmark's time budget.
CORPUS_DOCS, CORPUS_VECTORS = 5_000, 2_000


def _pii(rng):
    kind = int(rng.integers(0, 3))
    if kind == 0:
        return f"user{int(rng.integers(0, 10**6))}@mail{int(rng.integers(0, 50))}.org"
    if kind == 1:
        return (f"{int(rng.integers(200, 999))}-{int(rng.integers(100, 999))}-"
                f"{int(rng.integers(1000, 9999))}")
    return ".".join(str(int(x)) for x in rng.integers(1, 255, 4))


def _edit(rng, words):
    """1-3 random token substitutions, insertions or deletions."""
    w = list(words)
    for _ in range(int(rng.integers(1, 4))):
        op, at = int(rng.integers(0, 3)), int(rng.integers(0, len(w)))
        tok = VOCAB[int(rng.integers(0, len(VOCAB)))]
        if op == 0:
            w[at] = tok
        elif op == 1:
            w.insert(at, tok)
        elif len(w) > 12:
            del w[at]
    return w


def corpus(out, seed):
    """The curation corpus. Planted exact-duplicate groups use fresh long
    texts with no URL, no near-copies and no leaked grams, so the only
    stage that may remove a member is exact dedup: each group must keep
    exactly one member."""
    rng = _rng(seed, 2)
    n = CORPUS_DOCS
    n_bench = 60
    bench = _texts(rng, n_bench, 60, 90)
    texts = _texts(rng, n, 10, 100)
    kind = np.array(["base"] * n, dtype=object)
    # near-duplicates: token edits of an earlier base doc
    for i in np.flatnonzero(rng.random(n) < 0.06):
        if i == 0:
            continue
        src = int(rng.integers(0, i))
        texts[i] = " ".join(_edit(rng, texts[src].split(" ")))
        kind[i] = "near"
    # benchmark leakage: verbatim or lightly edited eval documents
    for i in np.flatnonzero(rng.random(n) < 0.01):
        b = bench[int(rng.integers(0, n_bench))].split(" ")
        texts[i] = " ".join(b if rng.random() < 0.5 else _edit(rng, b))
        kind[i] = "leak"
    # PII: one email / phone / IPv4 token spliced into a base doc
    for i in np.flatnonzero((rng.random(n) < 0.03) & (kind == "base")):
        w = texts[i].split(" ")
        w.insert(int(rng.integers(0, len(w))), _pii(rng))
        texts[i] = " ".join(w)
        kind[i] = "pii"
    # exact-duplicate groups on otherwise untouched slots
    free = np.flatnonzero(kind == "base")
    rng.shuffle(free)
    groups, at = [], 0
    for g in range(n // 200):
        size = int(rng.integers(2, 5))
        members = sorted(int(x) for x in free[at:at + size])
        at += size
        text = _texts(rng, 1, 80, 100)[0]
        for m in members:
            texts[m] = text
            kind[m] = "exact"
        groups.append(members)
    # URLs: most docs have one; two blocked domains, a few hosts far over
    # the per-host cap, the rest spread thin; planted groups have none
    hosts = ([f"site{i}.example.com" for i in range(600)]
             + [f"big{i}.example.org" for i in range(5)]
             + [f"www.{d}" for d in BLOCKED_DOMAINS])
    host_p = np.array([1.0] * 600 + [12.0] * 5 + [6.0] * len(BLOCKED_DOMAINS))
    host_ix = rng.choice(len(hosts), n, p=host_p / host_p.sum())
    has_url = (rng.random(n) < 0.8) & (kind != "exact")
    urls = [f"https://{hosts[h]}/page/{i}" if u else None
            for i, (h, u) in enumerate(zip(host_ix, has_url))]
    _write(out, "documents", {
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": texts,
        "lang": LANGS[rng.choice(5, n, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        "url": pa.array(urls, type=pa.string())})
    n_vec = CORPUS_VECTORS
    emb = _embeddings(rng, n_vec)
    # embedding near-duplicates: a few vectors re-planted as tiny
    # perturbations of an earlier vector with the same label
    vecs = np.stack(emb["embedding"].to_numpy(zero_copy_only=False))
    labels = emb["label"].to_numpy().copy()
    exact_ids = set(m for g in groups for m in g)
    for i in np.flatnonzero(rng.random(n_vec) < 0.02):
        if i == 0 or int(i) in exact_ids:
            continue
        j = int(rng.integers(0, i))
        if j in exact_ids:
            continue
        v = vecs[j] + rng.standard_normal(64).astype(np.float32) * 0.005
        vecs[i] = v / np.linalg.norm(v)
        labels[i] = labels[j]
    emb["embedding"] = pa.array(list(vecs), type=pa.list_(pa.float32()))
    emb["label"] = pa.array(labels.astype(np.int32))
    _write(out, "embeddings", emb)
    _write(out, "benchmark", {
        "doc_id": pa.array(np.arange(n_bench, dtype=np.int64)),
        "text": bench})
    with open(os.path.join(out, "groups.json"), "w") as f:
        json.dump({"exact_groups": groups, "blocked_domains": BLOCKED_DOMAINS,
                   "max_docs_per_host": MAX_DOCS_PER_HOST}, f)
    return {"documents": n, "embeddings": n_vec, "benchmark": n_bench,
            "exact_groups": len(groups)}


# ---- ts_synth ----------------------------------------------------------

# Sized to the run length: the pass cost is per-job, not per-row, so a
# small table keeps a run inside the time budget.
SERIES_ENTITIES, SERIES_MEAN_ROWS = 100, 100


def series(out, seed):
    """Long table (entity, ts, x1, x2, x3, segment). Each entity is active
    on a random sub-span of 2023 and emits bursts of irregularly spaced
    events with gaps between them."""
    rng = _rng(seed, 3)
    entities, mean_rows = SERIES_ENTITIES, SERIES_MEAN_ROWS
    y0 = _day_us(2023, 1, 1)
    counts = rng.poisson(mean_rows, entities).clip(20, None)
    n = int(counts.sum())
    ent = np.repeat(np.arange(entities), counts)
    start = rng.integers(0, 120, entities)
    span = rng.integers(200, 365, entities).clip(None, 365 - start)
    # irregular: a random day inside the entity's active span, most days
    # left empty (the gaps), random second inside the day
    day = start[ent] + (rng.beta(0.7, 0.7, n) * span[ent]).astype(np.int64)
    ts = y0 + day * DAY_US + rng.integers(0, DAY_US, n)
    level = rng.uniform(10, 100, entities)[ent]
    phase = rng.uniform(0, 6.3, entities)[ent]
    x1 = np.round(level + 10 * np.sin(day / 30.0 + phase) + rng.normal(0, 3, n), 3)
    x2 = np.round(rng.gamma(2.0, 5.0, n), 3)
    x3 = np.round(0.5 * x1 + rng.normal(0, 5, n), 3)
    segments = np.array(["retail", "wholesale", "online", "partner"])
    seg = segments[rng.integers(0, 4, entities)][ent]
    order = np.lexsort((ts, ent))
    _write(out, "series", {
        "entity": pa.array([f"e{e:05d}" for e in ent[order]]),
        "ts": _ts(ts[order]),
        "x1": x1[order], "x2": x2[order], "x3": x3[order],
        "segment": seg[order]})
    return {"series": n, "entities": entities}


GENERATORS = {"llm_curate": corpus, "ts_synth": series}


def generate(workload, seed, out):
    os.makedirs(out, exist_ok=True)
    return GENERATORS[workload](out, seed)
