"""Seeded input generator for the benchmark.

Writes one single-row-group parquet file per table, with the schemas and
value distributions of the engine's sf0.1 test tables (FIXTURES.md):

* `gen_events`: the `events` stream table;
* `gen_documents_zipf`: the benchmark corpus, in sf0.1's `documents`
  schema. Language, source and length distributions are sf0.1's; the
  vocabulary is Zipf(1.05) over 20,000 word types with sf0.1's words and
  the Gopher stopwords at its head; 10% of documents are near-duplicates,
  each a copy of an original (never of another copy) with 1-3 token
  substitutions, so duplicate components stay shallow.

The same seed gives the same tables.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# sf0.1's document vocabulary (the `dup` marker aside), in its frequency order
SF_WORDS = ("spark window merge table column vector stream value data small "
            "join filter big group hash customer sort order slow line part "
            "fast row the agg key query a scan batch").split()
# graft.operators.TextAnalysis.GopherStopwords
GOPHER_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.4118, 0.1506, 0.1488, 0.1484, 0.1404]
N_SOURCES = 20
ZIPF_S = 1.05
VOCAB_SIZE = 20000
DUP_FRAC = 0.10


def _write(out_dir, name, table):
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"),
                   row_group_size=max(table.num_rows, 1))


def gen_events(rng, out_dir, n=100000):
    gaps = np.maximum(rng.exponential(25.9e6, n).astype(np.int64), 1)
    base = np.datetime64("2024-01-01", "us").astype(np.int64)
    _write(out_dir, "events", pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": pa.array(base + np.cumsum(gaps), pa.timestamp("us")),
        "user_id": rng.integers(0, 1500, n),
        "event_type": rng.choice(["click", "error", "purchase", "signup",
                                  "view"], n),
        "value": np.round(rng.exponential(100.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]}))


def zipf_vocabulary(size=VOCAB_SIZE):
    """Seed-independent word types: the fixed head, then unique lowercase
    pseudo-words built from consonant-vowel syllables."""
    head = list(dict.fromkeys(GOPHER_STOPWORDS + SF_WORDS))
    words, seen = list(head), set(head)
    vrng = np.random.default_rng(20120827)
    cons, vows = "bcdfghjklmnprstvwz", "aeiou"
    while len(words) < size:
        syl = vrng.integers(2, 5)
        w = "".join(cons[vrng.integers(len(cons))] + vows[vrng.integers(len(vows))]
                    for _ in range(syl))
        if w not in seen:
            seen.add(w)
            words.append(w)
    return np.array(words)


def gen_documents_zipf(rng, out_dir, n=20000):
    vocab = zipf_vocabulary()
    p = 1.0 / np.arange(1, len(vocab) + 1) ** ZIPF_S
    p /= p.sum()
    n_dup = int(round(n * DUP_FRAC))
    n_orig = n - n_dup
    lens = rng.integers(10, 100, n_orig)
    toks = rng.choice(len(vocab), int(lens.sum()), p=p)
    offs = np.concatenate([[0], np.cumsum(lens)])
    docs = [toks[offs[i]:offs[i + 1]] for i in range(n_orig)]
    for src in rng.integers(0, n_orig, n_dup):
        copy = docs[src].copy()
        k = rng.integers(1, 4)
        copy[rng.choice(len(copy), k, replace=False)] = rng.choice(len(vocab), k, p=p)
        docs.append(copy)
    order = rng.permutation(n)
    texts = [" ".join(vocab[docs[j]]) for j in order]
    _write(out_dir, "documents", pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n, p=LANG_P),
        "source": [f"src{i % N_SOURCES}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)}))
    return {"documents": n, "planted_dup_share": n_dup / n,
            "hot_key": str(vocab[0]), "hot_key_share": float(p[0]),
            "vocabulary": len(vocab),
            "documents_bytes": os.path.getsize(
                os.path.join(out_dir, "documents.parquet"))}


def describe(out_dir, info=None):
    """Row counts and bytes of the tables in `out_dir`, plus `info`."""
    rows, size = {}, 0
    for f in sorted(os.listdir(out_dir)):
        if f.endswith(".parquet"):
            path = os.path.join(out_dir, f)
            rows[f[:-len(".parquet")]] = pq.ParquetFile(path).metadata.num_rows
            size += os.path.getsize(path)
    return dict(info or {}, rows=rows, bytes=size)

