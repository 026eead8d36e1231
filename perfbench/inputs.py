"""Seeded input generators and the benchmark's own layer cache.

Every generator is a pure function of its seed: the same seed gives the
same rows, and the engine receives only the generated rows.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np

# The 30-word vocabulary of the reference corpus (testdata `documents`).
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line merge "
    "order part query row scan slow small sort spark stream table the value vector window"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)
N_SOURCES = 20
EMB_DIM = 64
N_LABELS = 10
DOC_DUP_FRAC = 0.05  # share of documents planted as near-duplicates
VEC_DUP_FRAC = 0.02  # share of embeddings planted as near-duplicates


def _rng(seed: int, stream: str) -> np.random.Generator:
    """Independent generator per (seed, stream) so adding a stream never
    shifts another one's draws."""
    digest = hashlib.sha256(f"{seed}:{stream}".encode()).digest()
    return np.random.default_rng(int.from_bytes(digest[:8], "little"))


def documents(seed: int, n: int):
    """`documents` table (doc_id, text, lang, source, n_chars) with a planted
    share of near-duplicates: copies of an earlier document with 0-3 seeded
    word substitutions, tagged with a trailing "dup" word as in testdata."""
    import pyarrow as pa

    rng = _rng(seed, "documents")
    vocab = np.array(VOCAB)
    lengths = rng.integers(10, 101, size=n)
    words = [list(vocab[rng.integers(0, len(vocab), size=k)]) for k in lengths]
    n_dup = int(n * DOC_DUP_FRAC)
    dup_ids = np.sort(rng.choice(np.arange(1, n), size=n_dup, replace=False))
    for i in dup_ids:
        base = list(words[int(rng.integers(0, i))])
        for _ in range(int(rng.integers(0, 4))):
            base[int(rng.integers(0, len(base)))] = str(vocab[rng.integers(0, len(vocab))])
        words[i] = base + ["dup"]
    texts = [" ".join(w) for w in words]
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(np.array(LANGS)[rng.choice(len(LANGS), size=n, p=LANG_P)]),
            "source": pa.array([f"src{s}" for s in rng.integers(0, N_SOURCES, size=n)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def embeddings(seed: int, n: int):
    """`embeddings` table (vec_id, embedding: list<float> unit-norm dim 64,
    label int32) with a planted share of near-duplicate vectors."""
    import pyarrow as pa

    rng = _rng(seed, "embeddings")
    vecs = rng.standard_normal((n, EMB_DIM))
    n_dup = int(n * VEC_DUP_FRAC)
    dup_ids = rng.choice(np.arange(1, n), size=n_dup, replace=False)
    for i in dup_ids:
        vecs[i] = vecs[int(rng.integers(0, i))] + 0.2 * rng.standard_normal(EMB_DIM) / np.sqrt(EMB_DIM)
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    flat = pa.array(vecs.reshape(-1))
    offsets = pa.array(np.arange(0, (n + 1) * EMB_DIM, EMB_DIM, dtype=np.int32))
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.ListArray.from_arrays(offsets, flat),
            "label": pa.array(rng.integers(0, N_LABELS, size=n).astype(np.int32)),
        }
    )


def permuted_elements(seed: int) -> list[dict]:
    """The Vienna-shaped element fixture with `element_id`s and row order
    permuted by the seed.  The layer built from it must not depend on
    either."""
    from osm_public_space_mapper_spark.fixtures.elements import generate_elements

    rows = generate_elements()
    rng = _rng(seed, "elements")
    ids = rng.permutation(len(rows)) + 1
    out = [dict(r, element_id=int(ids[i])) for i, r in enumerate(rows)]
    return [out[i] for i in rng.permutation(len(out))]


def source_key(root: str, extra_files=()) -> str:
    """Hash of every .py under the engine package, the entry module and the
    given files: the key of everything cached across runs."""
    h = hashlib.sha256()
    pkg = os.path.join(root, "osm_public_space_mapper_spark")
    files = [os.path.join(root, "__spark_entry__.py"), *extra_files]
    for dirpath, dirnames, filenames in os.walk(pkg):
        dirnames.sort()
        files += [os.path.join(dirpath, f) for f in sorted(filenames) if f.endswith(".py")]
    for path in files:
        h.update(os.path.relpath(path, root).encode())
        with open(path, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]
