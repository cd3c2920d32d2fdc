"""Seeded input generator for the benchmark.

Writes one ``documents.parquet`` with the schema and statistical shape
of the sf0.1 ``documents`` test table: ``doc_id, text, lang, source, n_chars``;
10-99 words per doc drawn uniformly from a 30-word vocabulary; ~41%
``en`` and ~15% each of zh/es/fr/de; ``source = 'src' || doc_id % 20``;
5% of the docs are near-duplicates (another doc's text plus `` dup``).

The seed picks the texts, the duplicate pairs and a doc-id base. The
base is a multiple of 840, so every ``doc_id % k`` the pipeline keys on
(pages per doc, spans per doc, voucher/reference role, source) keeps the
same distribution while the hashed values (span offsets, media spans,
part ids, MinHash bands) change with the seed.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
DUP_FRAC = 0.05
N_SOURCES = 20
ID_STRIDE = 840


def documents(seed: int, n_docs: int) -> pa.Table:
    rng = np.random.default_rng(seed)
    base = ID_STRIDE * int(rng.integers(0, 100_000))
    doc_id = np.arange(base, base + n_docs, dtype=np.int64)
    n_words = rng.integers(10, 100, size=n_docs)
    idx = rng.integers(0, len(VOCAB), size=int(n_words.sum())).tolist()
    words = [VOCAB[i] for i in idx]
    ends = np.cumsum(n_words).tolist()
    texts = [" ".join(words[e - n:e]) for e, n in zip(ends, n_words.tolist())]
    n_dup = int(n_docs * DUP_FRAC)
    dups = rng.choice(n_docs, size=n_dup, replace=False)
    originals = rng.integers(0, n_docs, size=n_dup)
    for d, o in zip(dups, originals):
        if d != o:
            texts[d] = texts[o] + " dup"
    lang = np.asarray(LANGS)[rng.choice(len(LANGS), size=n_docs, p=LANG_P)]
    return pa.table({
        "doc_id": doc_id,
        "text": texts,
        "lang": lang,
        "source": [f"src{i % N_SOURCES}" for i in doc_id.tolist()],
        "n_chars": np.fromiter((len(t) for t in texts), np.int64, n_docs),
    })


def write_sf_dir(out_dir: str, seed: int, n_docs: int) -> str:
    """Write ``<out_dir>/documents.parquet``; return ``out_dir`` (the
    ``sf_dir`` argument every job takes)."""
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(documents(seed, n_docs), os.path.join(out_dir, "documents.parquet"))
    return out_dir
