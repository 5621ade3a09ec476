"""Seeded tables for the query_mix workload.

Writes customer, documents and embeddings parquet files with the
column names and types the graft queries read (a TPC-H-ish dimension
table plus the text/vector tables), one file each, as a pure function
of the seed. Row counts are those of the sf0.1 TPC-H-ish test data
(15,000 customers, 5,000 documents, 2,000 embeddings).

Usage: python3 perfbench/datagen.py <seed> <out_dir>
"""
import hashlib
import os
import sys

import numpy as np
import pandas as pd

CUSTOMERS = 15000
DOCUMENTS = 5000
NEAR_DUP_SHARE = 0.2
EMBEDDINGS = 2000
DIM = 64

VOCAB = ("query row stream the spark line small fast group customer batch sort "
         "value hash filter big data dup part column order scan a slow agg key "
         "window table merge vector join").split()
LANGS = ["en", "en", "es", "zh", "de", "fr"]


def customer(rng):
    n = CUSTOMERS
    return pd.DataFrame({
        "c_custkey": np.arange(n, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": rng.integers(0, 25, n).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n), 2),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], n),
    })


def documents(rng):
    """Document shapes are fixed (lengths, which documents are near-copies,
    how many words a copy changes); the seed picks the words. So every
    seed gives the queries the same amount of work."""
    texts = []
    for i in range(DOCUMENTS):
        n_words = 8 + (i * 37) % 93
        if i > 10 and i % round(1 / NEAR_DUP_SHARE) == 0:
            # a near-duplicate: an earlier document with a few words changed
            words = texts[i - 1 - (i * 7) % 10].split()
            for j in rng.choice(len(words), max(1, len(words) // 20), replace=False):
                words[j] = VOCAB[int(rng.integers(0, len(VOCAB)))]
        else:
            words = list(rng.choice(VOCAB, n_words))
        texts.append(" ".join(words))
    return pd.DataFrame({
        "doc_id": np.arange(DOCUMENTS, dtype=np.int64),
        "text": texts,
        "lang": [LANGS[i % len(LANGS)] for i in range(DOCUMENTS)],
        "source": [f"src{i % 20}" for i in range(DOCUMENTS)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def embeddings(rng):
    labels = rng.integers(0, 10, EMBEDDINGS).astype(np.int32)
    centers = rng.normal(0, 0.15, (10, DIM))
    vecs = (centers[labels] + rng.normal(0, 0.1, (EMBEDDINGS, DIM))).astype(np.float32)
    return pd.DataFrame({
        "vec_id": np.arange(EMBEDDINGS, dtype=np.int64),
        "embedding": [v for v in vecs],
        "label": labels,
    })


TABLES = {"customer": customer, "documents": documents, "embeddings": embeddings}


def version():
    """Hash of this generator's source: tables cached under another
    version were made by other code and are not reused."""
    with open(os.path.abspath(__file__), "rb") as fh:
        return hashlib.sha256(fh.read()).hexdigest()[:12]


def generate(seed, out_dir):
    """Write every table under out_dir (skipped when already complete)."""
    done = os.path.join(out_dir, "_SUCCESS")
    if os.path.exists(done):
        return out_dir
    os.makedirs(out_dir, exist_ok=True)
    for i, (name, make) in enumerate(sorted(TABLES.items())):
        rng = np.random.default_rng([seed, i])
        make(rng).to_parquet(os.path.join(out_dir, f"{name}.parquet"), index=False)
    open(done, "w").close()
    return out_dir


if __name__ == "__main__":
    generate(int(sys.argv[1]), sys.argv[2])
