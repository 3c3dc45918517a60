"""Seeded input generators: each workload's tables are a pure function of
the seed and the stated sizes, written into a scratch sf-dir with the
same schema as the repository's testdata (`documents`, `embeddings`).

The text model mirrors the testdata corpus: documents are 10-100 words
drawn uniformly from a 30-word vocabulary, tagged with one of five
languages (about 41% English) and one of 20 sources.  Two properties the
curation funnel's cost depends on are declared inputs here instead of
accidents of the data:

- ``near_dup_frac``: the share of rows that are copies of another row
  with exactly one word replaced (3-shingle Jaccard well above the 0.8
  near-dup threshold for all but the shortest documents), which sets the
  minhash candidate volume;
- ``exact_dup_frac``: the share of rows whose text repeats another row
  verbatim, which sets the exact-dedup stage's yield.

Embeddings are unit-norm 64-dim float32 vectors around ten seeded
cluster centres, the testdata's geometry.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)
N_SOURCES = 20
EMB_DIM = 64
EMB_CLUSTERS = 10

DOC_SCHEMA = pa.schema(
    [
        ("doc_id", pa.int64()),
        ("text", pa.string()),
        ("lang", pa.string()),
        ("source", pa.string()),
        ("n_chars", pa.int64()),
    ]
)
EMB_SCHEMA = pa.schema(
    [
        ("vec_id", pa.int64()),
        ("embedding", pa.list_(pa.float32())),
        ("label", pa.int32()),
    ]
)


def documents(
    seed: int, n_docs: int, near_dup_frac: float, exact_dup_frac: float = 0.005
) -> pa.Table:
    """``n_docs`` rows; doc ids are a seeded permutation of
    ``range(n_docs)`` so row order and id order are unrelated."""
    rng = np.random.default_rng([seed, 1])
    n_near = int(round(n_docs * near_dup_frac))
    n_exact = int(round(n_docs * exact_dup_frac))
    n_base = n_docs - n_near - n_exact
    if n_base < 1:
        raise ValueError("duplicate fractions leave no base documents")
    vocab = np.array(VOCAB)
    lengths = rng.integers(10, 101, size=n_base)
    texts = [
        list(vocab[rng.integers(0, len(vocab), size=k)]) for k in lengths
    ]
    langs = list(rng.choice(LANGS, size=n_base, p=LANG_P))
    sources = [f"src{s}" for s in rng.integers(0, N_SOURCES, size=n_base)]
    for _ in range(n_near):
        src = int(rng.integers(0, n_base))
        words = list(texts[src])
        pos = int(rng.integers(0, len(words)))
        # A replacement that differs from the word it replaces.
        shift = int(rng.integers(1, len(vocab)))
        words[pos] = vocab[(VOCAB.index(words[pos]) + shift) % len(vocab)]
        texts.append(words)
        langs.append(langs[src])
        sources.append(sources[src])
    for _ in range(n_exact):
        src = int(rng.integers(0, n_base))
        texts.append(texts[src])
        langs.append(langs[src])
        sources.append(sources[src])
    text = [" ".join(w) for w in texts]
    order = rng.permutation(n_docs)
    ids = rng.permutation(n_docs).astype(np.int64)
    return pa.table(
        {
            "doc_id": ids,
            "text": [text[i] for i in order],
            "lang": [langs[i] for i in order],
            "source": [sources[i] for i in order],
            "n_chars": np.array([len(text[i]) for i in order], np.int64),
        },
        schema=DOC_SCHEMA,
    )


def embeddings(seed: int, n_vecs: int) -> pa.Table:
    """``n_vecs`` unit vectors, ``vec_id`` = ``0..n_vecs-1``, labelled by
    their cluster."""
    rng = np.random.default_rng([seed, 2])
    centres = rng.standard_normal((EMB_CLUSTERS, EMB_DIM))
    centres /= np.linalg.norm(centres, axis=1, keepdims=True)
    labels = rng.integers(0, EMB_CLUSTERS, size=n_vecs)
    vecs = centres[labels] + 0.12 * rng.standard_normal((n_vecs, EMB_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    flat = pa.array(vecs.astype(np.float32).ravel())
    offsets = pa.array(np.arange(0, (n_vecs + 1) * EMB_DIM, EMB_DIM, np.int32))
    return pa.table(
        {
            "vec_id": np.arange(n_vecs, dtype=np.int64),
            "embedding": pa.ListArray.from_arrays(offsets, flat),
            "label": labels.astype(np.int32),
        },
        schema=EMB_SCHEMA,
    )


def write_table(table: pa.Table, sf_dir: str, name: str) -> str:
    """One parquet file with one row group, like the testdata."""
    os.makedirs(sf_dir, exist_ok=True)
    path = os.path.join(sf_dir, f"{name}.parquet")
    pq.write_table(table, path, row_group_size=max(1, table.num_rows))
    return path
