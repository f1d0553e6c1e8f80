"""Seeded input generators for the benchmark workloads.

The shape of each input (cluster layout, vocabulary) is fixed; the run
seed draws the samples.  Two seeds therefore give different inputs with
the same statistics, so run-to-run spread measures the program rather
than the luck of the draw.  The same seed always gives the same inputs.
"""

from __future__ import annotations

import numpy as np

#: fixed stream for the input shape (cluster centres, vocabulary)
_SHAPE_SEED = 20200330


def gaussian_mixture(n: int, seed: int, d: int = 8,
                     k: int = 12) -> np.ndarray:
    """(n, d) float32 rows from a k-cluster Gaussian mixture: unit
    spread around centres drawn once from N(0, 3²)."""
    centres = np.random.default_rng(_SHAPE_SEED).normal(0.0, 3.0, (k, d))
    rng = np.random.default_rng(seed)
    labels = rng.integers(0, k, n)
    return (centres[labels] + rng.normal(0.0, 1.0, (n, d))).astype(np.float32)


def near_dup_corpus(n_docs: int, seed: int, vocab: int = 5000,
                    zipf_s: float = 1.1, dup_share: float = 0.2,
                    edit_rate: float = 0.05, min_len: int = 40,
                    max_len: int = 80):
    """A Zipf-vocabulary corpus with planted near-duplicate clusters.

    ``(1 - dup_share)·n_docs`` base documents are drawn independently;
    each remaining document copies a random base document and replaces
    each word with probability ``edit_rate``.  Returns ``(ids, texts,
    cluster)``: shuffled int64 doc ids, the texts, and per document the
    planted cluster it belongs to (the index of its base document), or
    -1 for a base document that received no copy.  The ground-truth
    pairs are all pairs of documents sharing a cluster.
    """
    p = 1.0 / np.arange(1, vocab + 1) ** zipf_s
    p /= p.sum()
    words = np.array([f"w{i}" for i in range(vocab)], dtype=object)
    rng = np.random.default_rng(seed)
    n_base = int(round(n_docs * (1.0 - dup_share)))
    lengths = rng.integers(min_len, max_len + 1, n_base)
    base = np.split(rng.choice(vocab, size=int(lengths.sum()), p=p),
                    np.cumsum(lengths)[:-1])
    src = rng.integers(0, n_base, n_docs - n_base)
    docs = list(base)
    for b in src:
        copy = base[b].copy()
        edit = rng.random(len(copy)) < edit_rate
        copy[edit] = rng.choice(vocab, size=int(edit.sum()), p=p)
        docs.append(copy)
    has_copy = np.zeros(n_base, bool)
    has_copy[src] = True
    cluster = np.concatenate([np.where(has_copy, np.arange(n_base), -1), src])
    texts = [" ".join(words[d]) for d in docs]
    ids = rng.permutation(n_docs).astype(np.int64) + 1
    return ids, texts, cluster
