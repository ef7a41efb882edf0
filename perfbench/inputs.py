"""Seeded input generation for the graft benchmark.

Every input is a pure function of the seed and the constants below; the
program under test only ever sees the files written here. The shapes
follow the sf0.1 test tables the rest of the repo is gated on (events:
100k rows over 1,500 entities and 30 days; documents: 20 sources of
short texts), but nothing is read from outside the benchmark's own
checkout.

Layout of one staged seed (``stage(root, seed)``):

    events/events.parquet      dashboard table
    curate/documents.parquet   curate corpus (source ``src0`` is the
                               held-out eval set)
    ingest/batch_NNNNN.parquet one micro-batch per file, in stream order
    manifest.json              rows/bytes per input and the injected
                               duplicates the checks rely on
"""

import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# sf0.1's vocabulary plus a fixed list of synthetic words: with sf0.1's
# 30 words every 3-token shingle recurs across the corpus, so
# decontamination against the held-out source would drop every document
BASE_WORDS = [
    "batch", "part", "spark", "line", "column", "order", "small", "sort",
    "fast", "value", "scan", "hash", "slow", "group", "agg", "filter",
    "vector", "query", "table", "customer", "stream", "key", "window",
    "join", "data", "index", "row", "plan",
]
STOPWORDS = ["the", "a", "of", "and", "is", "in", "to"]
STOPWORD_RATE = 0.15
_SYL = ["ka", "lo", "mi", "ren", "tas", "vo", "quin", "de", "sur", "pha", "el", "nor"]
WORDS = BASE_WORDS + sorted({
    _SYL[i % 12] + _SYL[(i // 12) % 12] + _SYL[(i // 144) % 12]
    for i in range(1, 1728, 1)})[:1500]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]

EVENTS_ROWS = 100_000
EVENTS_USERS = 1_500
EVENTS_DAYS = 30
EVENTS_T0_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z

CURATE_SOURCES = 20
CURATE_BASE_PER_SOURCE = 130
CURATE_EXACT_DUP_RATE = 0.05   # re-keyed verbatim copies (case/space varied)
CURATE_NEAR_DUP_RATE = 0.03    # copies with one token appended
CURATE_CONTAM_RATE = 0.02      # docs carrying a 24-token span of a src0 doc
CURATE_BOILERPLATE_RATE = 0.05 # docs sharing one 25-token boilerplate run
HELD_OUT_SOURCE = "src0"

INGEST_FILES = 100
INGEST_DOCS_PER_FILE = 200
INGEST_IN_BATCH_DUPS = 20      # per file: copies of a doc of the same file
INGEST_CROSS_BATCH_DUPS = 30   # per file: copies of a doc of an earlier file

LAYOUT_VERSION = 5


def _text(rng, n_tokens):
    words = rng.integers(len(WORDS), size=n_tokens)
    stops = rng.integers(len(STOPWORDS), size=n_tokens)
    is_stop = rng.random(n_tokens) < STOPWORD_RATE
    toks = [STOPWORDS[s] if st else WORDS[w] for w, s, st in zip(words, stops, is_stop)]
    # every document carries at least one stopword, as sf0.1's do
    if not is_stop.any():
        toks[int(rng.integers(n_tokens))] = "the"
    return " ".join(toks)


def _doc_lengths(rng, n):
    return rng.integers(12, 110, size=n)


def _variant(rng, text):
    """The same content under the normalisation the content hash
    applies (trim, lower-case, collapse whitespace)."""
    style = int(rng.integers(3))
    if style == 0:
        return text.upper()
    if style == 1:
        return "  " + text.replace(" ", "   ", 2) + " "
    return text


def _write(table, path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)
    return os.path.getsize(path)


def gen_events(rng):
    n = EVENTS_ROWS
    span_us = EVENTS_DAYS * 86_400 * 1_000_000
    ts = np.sort(rng.integers(0, span_us, size=n)) + EVENTS_T0_US
    user = rng.integers(0, EVENTS_USERS, size=n)
    etype = rng.integers(0, len(EVENT_TYPES), size=n)
    value = np.round(np.minimum(rng.gamma(2.0, 40.0, size=n), 560.0), 2)
    k = rng.integers(0, 100, size=n)
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts.astype("datetime64[us]"), type=pa.timestamp("us")),
        "user_id": pa.array(user.astype(np.int64)),
        "event_type": pa.array([EVENT_TYPES[i] for i in etype]),
        "value": pa.array(value),
        "props": pa.array([f'{{"k": {int(x)}}}' for x in k]),
    })


def gen_curate(rng):
    """Base corpus, then injected exact dups, near dups, eval-span
    contamination and shared boilerplate."""
    docs = []
    for s in range(CURATE_SOURCES):
        for ln in _doc_lengths(rng, CURATE_BASE_PER_SOURCE):
            docs.append((f"src{s}", _text(rng, int(ln))))
    order = rng.permutation(len(docs))
    docs = [docs[i] for i in order]
    held = [t for s, t in docs if s == HELD_OUT_SOURCE]
    corpus_idx = [i for i, (s, _) in enumerate(docs) if s != HELD_OUT_SOURCE]
    n = len(docs)

    boiler = _text(rng, 25)
    for i in rng.choice(corpus_idx, int(n * CURATE_BOILERPLATE_RATE), replace=False):
        s, t = docs[i]
        docs[i] = (s, t + " " + boiler)
    contaminated = []
    for i in rng.choice(corpus_idx, int(n * CURATE_CONTAM_RATE), replace=False):
        s, t = docs[i]
        src_toks = held[int(rng.integers(len(held)))].split(" ")
        while len(src_toks) < 24:
            src_toks = held[int(rng.integers(len(held)))].split(" ")
        at = int(rng.integers(len(src_toks) - 23))
        docs[i] = (s, t + " " + " ".join(src_toks[at:at + 24]))
        contaminated.append(int(i))

    exact_dups, near_dups = [], []
    for i in rng.choice(corpus_idx, int(n * CURATE_EXACT_DUP_RATE), replace=False):
        s, t = docs[i]
        docs.append((s, _variant(rng, t)))
        exact_dups.append([int(i), len(docs) - 1])
    for i in rng.choice(corpus_idx, int(n * CURATE_NEAR_DUP_RATE), replace=False):
        s, t = docs[i]
        docs.append((s, t + " " + WORDS[int(rng.integers(len(WORDS)))]))
        near_dups.append([int(i), len(docs) - 1])

    table = pa.table({
        "doc_id": pa.array(np.arange(len(docs), dtype=np.int64)),
        "text": pa.array([t for _, t in docs]),
        "lang": pa.array(["en"] * len(docs)),
        "source": pa.array([s for s, _ in docs]),
        "n_chars": pa.array([len(t) for _, t in docs], type=pa.int64()),
    })
    injected = {"exact_dup_pairs": exact_dups, "near_dup_pairs": near_dups,
                "contaminated": sorted(contaminated)}
    return table, injected


def gen_ingest(rng, out_dir):
    """INGEST_FILES batch files; doc_ids are globally unique and grow
    with the stream, so batch order is also doc_id order."""
    os.makedirs(out_dir, exist_ok=True)
    earlier = []
    next_id = 0
    total_bytes = total_rows = 0
    for f in range(INGEST_FILES):
        n_fresh = INGEST_DOCS_PER_FILE - INGEST_IN_BATCH_DUPS - INGEST_CROSS_BATCH_DUPS
        rows = [(f"src{int(rng.integers(CURATE_SOURCES))}", _text(rng, int(ln)))
                for ln in _doc_lengths(rng, n_fresh)]
        for j in rng.choice(n_fresh, INGEST_IN_BATCH_DUPS, replace=False):
            rows.append((rows[j][0], _variant(rng, rows[j][1])))
        if earlier:
            for j in rng.choice(len(earlier), INGEST_CROSS_BATCH_DUPS):
                rows.append(earlier[j])
        else:
            rows += [(f"src{int(rng.integers(CURATE_SOURCES))}", _text(rng, 30))
                     for _ in range(INGEST_CROSS_BATCH_DUPS)]
        order = rng.permutation(len(rows))
        rows = [rows[i] for i in order]
        earlier.extend(rows[:n_fresh])
        ids = np.arange(next_id, next_id + len(rows), dtype=np.int64)
        next_id += len(rows)
        table = pa.table({"doc_id": pa.array(ids),
                          "source": pa.array([r[0] for r in rows]),
                          "text": pa.array([r[1] for r in rows])})
        total_bytes += _write(table, os.path.join(out_dir, f"batch_{f:05d}.parquet"))
        total_rows += len(rows)
    return total_rows, total_bytes


def stage(root, seed):
    """Stage every input for ``seed`` under ``root`` once; later calls
    with the same seed reuse the files. Returns the manifest."""
    seed_dir = os.path.join(root, f"seed_{seed}")
    manifest_path = os.path.join(seed_dir, "manifest.json")
    if os.path.exists(manifest_path):
        with open(manifest_path) as fh:
            manifest = json.load(fh)
        if manifest.get("layout") == LAYOUT_VERSION:
            return seed_dir, manifest
    tmp = seed_dir + f".tmp{os.getpid()}"
    events = gen_events(np.random.default_rng([seed, 1]))
    ev_bytes = _write(events, os.path.join(tmp, "events", "events.parquet"))
    docs, injected = gen_curate(np.random.default_rng([seed, 2]))
    doc_bytes = _write(docs, os.path.join(tmp, "curate", "documents.parquet"))
    ing_rows, ing_bytes = gen_ingest(np.random.default_rng([seed, 3]),
                                     os.path.join(tmp, "ingest"))
    manifest = {
        "layout": LAYOUT_VERSION,
        "seed": seed,
        "inputs": {
            "events": {"rows": events.num_rows, "bytes": ev_bytes},
            "curate": {"rows": docs.num_rows, "bytes": doc_bytes,
                       "corpus_rows": sum(1 for s in docs.column("source").to_pylist()
                                          if s != HELD_OUT_SOURCE)},
            "ingest": {"rows": ing_rows, "bytes": ing_bytes,
                       "files": INGEST_FILES},
        },
        "curate_injected": injected,
        "held_out_source": HELD_OUT_SOURCE,
    }
    with open(os.path.join(tmp, "manifest.json"), "w") as fh:
        json.dump(manifest, fh)
    if os.path.exists(seed_dir):
        shutil.rmtree(seed_dir)
    os.replace(tmp, seed_dir)
    return seed_dir, manifest
