"""Seeded workload inputs, all derived from the sf0.1 fixture.

- Names: sf0.1 ``customer.c_name`` is ``'Customer#' || lpad(c_custkey, 9,
  '0')`` for ``c_custkey`` in [0, 15000); the names are generated by
  that rule instead of being read.
- Documents: ``data/documents.parquet`` is sf0.1 ``documents.parquet``
  (``doc_id``, ``text``), copied by ``make_data.py``.
- Vectors: seeded Gaussian 64-d vectors with planted near-twins.

Seed 0 perturbs each name exactly like the repository's ``bench.py``
(delete the character at ``c_custkey % length``); any other seed picks
the deleted position by a seeded hash.
"""

from __future__ import annotations

import os
import zlib
from dataclasses import dataclass

import numpy as np

N_CUSTOMERS = 15_000
DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")


def name(key: int) -> str:
    return f"Customer#{key:09d}"


def perturb(key: int, seed: int) -> str:
    s = name(key)
    pos = key % len(s) if seed == 0 else zlib.crc32(f"{seed}:{key}".encode()) % len(s)
    return s[:pos] + s[pos + 1 :]


def sample_keys(n: int, seed: int, salt: str) -> list[int]:
    """``n`` distinct customer keys, sorted; all keys when n >= 15000."""
    if n >= N_CUSTOMERS:
        return list(range(N_CUSTOMERS))
    rng = np.random.default_rng([seed, zlib.crc32(salt.encode())])
    return sorted(int(k) for k in rng.choice(N_CUSTOMERS, n, replace=False))


@dataclass
class Batch:
    words: list[str]
    queries: list[str]  # distinct
    base: list[str]  # 90% of words
    delta: list[str]  # the other 10%


def fuzzy_batch(n: int, seed: int) -> Batch:
    keys = sample_keys(n, seed, "batch")
    words = [name(k) for k in keys]
    queries = sorted({perturb(k, seed) for k in keys})
    delta = [w for i, w in enumerate(words) if i % 10 == 0]
    base = [w for i, w in enumerate(words) if i % 10 != 0]
    return Batch(words, queries, base, delta)


def group_dictionary(keys: list[int], seed: int) -> list[str]:
    """Four variants per name, as ``bench.py``'s both-sides-big dictionary."""
    out = set()
    for k in keys:
        s = name(k)
        out.add(perturb(k, seed))
        out.add(f"{s}_{(k + seed) % 7}")
        out.add(s[::-1].upper())
        out.add(f"{s[1:31]}{(k + seed) % 13}")
    return sorted(out)


@dataclass
class Groups:
    words: list[str]
    queries: list[str]


def fuzzy_groups(n: int, seed: int) -> Groups:
    keys = sample_keys(n, seed, "groups")
    return Groups(group_dictionary(keys, seed), sorted({perturb(k, seed) for k in keys}))


def serve_queries(n: int, seed: int) -> list[str]:
    """A fixed set of ``n`` lookups in a seeded order. Each lookup is a
    name with one character deleted, every position equally often (``n``
    is a multiple of the name length). The set does not depend on the
    seed: a lookup's cost depends on its key and edit position, and a
    per-seed set would move the serving time by more than the noise."""
    rng = np.random.default_rng(zlib.crc32(b"serve"))
    out = []
    for i, k in enumerate(rng.integers(0, N_CUSTOMERS, n)):
        s = name(int(k))
        pos = i % len(s)
        out.append(s[:pos] + s[pos + 1 :])
    np.random.default_rng([seed, zlib.crc32(b"serve-order")]).shuffle(out)
    return out


def documents(n: int, seed: int) -> tuple[list[int], list[str]]:
    """``n`` documents with ids 0..n-1: about a quarter are sf0.1
    documents, the rest near-duplicates of earlier ones, in equal
    shares: whitespace changes (Jaccard 1), one appended token, or one
    replaced token (Jaccard above or below the threshold, depending on
    the length)."""
    import pyarrow.parquet as pq

    base = pq.read_table(os.path.join(DATA, "documents.parquet")).column("text").to_pylist()
    rng = np.random.default_rng([seed, zlib.crc32(b"docs")])
    vocab = sorted({t for d in base[:500] for t in d.split()})
    picked: list[str] = []
    texts = []
    for _ in range(n):
        kind = rng.integers(0, 4) if picked else 0
        if kind == 0:
            doc = base[int(rng.integers(0, len(base)))]
            picked.append(doc)
            texts.append(doc)
            continue
        toks = picked[int(rng.integers(0, len(picked)))].split()
        if kind == 1:
            seps = ["\t", "\n", "  "]
            texts.append("".join(t + seps[int(rng.integers(0, 3))] for t in toks))
        elif kind == 2:
            texts.append(" ".join(toks + [vocab[int(rng.integers(0, len(vocab)))]]))
        else:
            toks[int(rng.integers(0, len(toks)))] = vocab[int(rng.integers(0, len(vocab)))]
            texts.append(" ".join(toks))
    return list(range(n)), texts


def vectors(n: int, seed: int, dim: int = 64) -> np.ndarray:
    """Gaussian vectors; one in nine is replaced by a noisy copy of
    another (cosine ~0.999), the planted twins."""
    rng = np.random.default_rng([seed, zlib.crc32(b"vecs")])
    x = rng.standard_normal((n, dim))
    twins = rng.choice(n, n // 9, replace=False)
    src = rng.integers(0, n, len(twins))
    x[twins] = x[src] + 0.02 * rng.standard_normal((len(twins), dim))
    return x
