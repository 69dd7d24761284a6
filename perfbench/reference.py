"""Reference answers computed without the package.

Fuzzy search results come from DuckDB's ``levenshtein`` over every
pair that passes an exact deletion-variant filter; near-duplicate survivors from exact token-trigram
Jaccard (prefix-filtered candidate pairs, every pair verified exactly,
then union-find); semantic survivors from exact cosine by numpy. Each
reference is a digest (see ``stats``) and is cached on disk per
workload, scale, seed and input hash, since a pass at the full sf0.1
scale takes about half a minute.
"""

from __future__ import annotations

import json
import math
import os
from collections import defaultdict

import numpy as np

from perfbench.stats import digest


def cached(cache_dir: str, key: str, inputs: object, compute):
    """``compute()``, cached under ``key`` plus a hash of ``inputs`` (so
    a changed input generator never reads a stale reference)."""
    import hashlib

    sig = hashlib.sha1(json.dumps(inputs, sort_keys=True, default=str).encode()).hexdigest()[:16]
    path = os.path.join(cache_dir, f"{key}-{sig}.json")
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    value = compute()
    os.makedirs(cache_dir, exist_ok=True)
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(value, f)
    os.replace(tmp, path)
    return value


def _duck(threads: int):
    import tempfile

    import duckdb

    con = duckdb.connect()
    con.execute(f"SET temp_directory = '{os.path.join(tempfile.gettempdir(), 'duckdb')}'")
    con.execute(f"SET threads TO {max(1, threads)}")
    con.execute("SET memory_limit = '2GB'")
    con.execute("SET preserve_insertion_order = false")
    return con


def deletion_variants(s: str, k: int) -> set[str]:
    """``s`` with every choice of at most ``k`` characters deleted."""
    out, frontier = {s}, {s}
    for _ in range(k):
        frontier = {v[:i] + v[i + 1 :] for v in frontier for i in range(len(v))}
        out |= frontier
    return out


def fuzzy_rows(queries: list[str], words: list[str], max_k: int, threads: int):
    """All (query, word, distance) with DuckDB ``levenshtein`` <= max_k.

    Pairs are first narrowed to those sharing a deletion variant (at
    most ``max_k`` characters deleted from each side). The filter is
    exact: an alignment with s substitutions, i insertions and d
    deletions (s + i + d <= k) deletes s + d characters from one side
    and s + i from the other to reach a common string. DuckDB then
    computes the distance of every surviving pair."""
    import pyarrow as pa

    def table(strings: list[str], col: str):
        a, v = [], []
        for s in set(strings):
            for d in deletion_variants(s, max_k):
                a.append(s)
                v.append(d)
        return pa.table({col: a, "v": v})

    con = _duck(threads)
    con.register("qv", table(queries, "q"))
    con.register("wv", table(words, "w"))
    return con.execute(
        f"""SELECT q, w, levenshtein(q, w) AS d
            FROM (SELECT DISTINCT q, w FROM qv JOIN wv USING (v))
            WHERE levenshtein(q, w) <= {max_k}"""
    ).fetchall()


def fuzzy_digests(queries: list[str], words: list[str], ks: list[int], threads: int) -> dict:
    rows = fuzzy_rows(queries, words, max(ks), threads)
    return {str(k): list(digest(r for r in rows if r[2] <= k)) for k in ks}


def fuzzy_hits(queries: list[str], words: list[str], k: int, threads: int) -> dict:
    """query -> sorted [[word, distance], ...], for checking responses."""
    hits: dict[str, list] = {q: [] for q in queries}
    for q, w, d in fuzzy_rows(sorted(set(queries)), words, k, threads):
        hits[q].append([w, int(d)])
    return {q: sorted(v) for q, v in hits.items()}


def words_digest(words: list[str]) -> list[int]:
    return list(digest((w,) for w in sorted(set(words))))


def _shingles(text: str, n: int = 3) -> set[str]:
    toks = text.split()
    return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}


def jaccard_pairs(texts: list[str], threshold: float) -> list[tuple[int, int]]:
    """Every (i, j), i < j, with exact trigram Jaccard >= threshold.
    Candidates share one of the first |x| - ceil(t|x|) + 1 shingles in
    a global rarest-first order (prefix filter: exact, no misses)."""
    sets = [_shingles(t) for t in texts]
    df: dict[str, int] = defaultdict(int)
    for s in sets:
        for g in s:
            df[g] += 1
    index: dict[str, list[int]] = defaultdict(list)
    cands: set[tuple[int, int]] = set()
    for i, s in enumerate(sets):
        if not s:
            continue
        ordered = sorted(s, key=lambda g: (df[g], g))
        p = len(s) - math.ceil(threshold * len(s) - 1e-9) + 1
        for g in ordered[:p]:
            for j in index[g]:
                cands.add((j, i))
            index[g].append(i)
    out = []
    for i, j in cands:
        a, b = sets[i], sets[j]
        inter = len(a & b)
        if inter / (len(a) + len(b) - inter) >= threshold:
            out.append((i, j))
    return out


def near_dup_survivors(ids: list[int], texts: list[str], threshold: float) -> list[int]:
    parent = list(range(len(ids)))

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for i, j in jaccard_pairs(texts, threshold):
        a, b = find(i), find(j)
        if a != b:
            parent[max(a, b)] = min(a, b)
    # the component label is its minimum id; ids are 0..n-1 in order
    return [ids[i] for i in range(len(ids)) if find(i) == i]


def semantic_survivors(x: np.ndarray, threshold: float) -> list[int]:
    """Ids j with no i < j at cosine >= threshold (the dominance rule)."""
    u = x / np.linalg.norm(x, axis=1, keepdims=True)
    keep = []
    for j0 in range(0, len(u), 1024):
        sims = u[j0 : j0 + 1024] @ u.T
        for r in range(sims.shape[0]):
            j = j0 + r
            if not (sims[r, :j] >= threshold).any():
                keep.append(j)
    return keep
