"""Reference twins that tests compare the engine against.

Each is the plain, unoptimised statement of what an engine operator
computes; the engine keeps only its fast path.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

from stark_spark.operators.dbscan import _grid_hash
from stark_spark.operators.text import shingles


def local_dbscan(xs: np.ndarray, ys: np.ndarray, eps: float, min_pts: int):
    """Single-node DBSCAN (semantics spec of `dbscan.dbscan`).

    Clusters = connected components of core points (ε-graph); border
    points join the lowest-id cluster among their core neighbors
    (deterministic, matching the distributed min-component rule).
    Returns (labels, is_core); -1 = noise.
    """
    n = len(xs)
    neighbors = _grid_hash(np.asarray(xs, float), np.asarray(ys, float), eps)
    neigh = [neighbors(i) for i in range(n)]
    is_core = np.array([len(nb) >= min_pts for nb in neigh])
    labels = np.full(n, -1, dtype=np.int64)
    cid = 0
    for i in range(n):
        if not is_core[i] or labels[i] != -1:
            continue
        labels[i] = cid
        stack = [i]
        while stack:
            p = stack.pop()
            for q in neigh[p]:
                if is_core[q] and labels[q] == -1:
                    labels[q] = cid
                    stack.append(q)
        cid += 1
    # border points: among core neighbors' clusters join the one whose
    # minimum core-member id is smallest — deterministic under ties
    # (a border point equidistant between two clusters), which the
    # reference is not (DBScan.scala assigns in discovery order)
    rep: dict[int, int] = {}
    for i in range(n):
        if is_core[i]:
            rep[labels[i]] = min(rep.get(labels[i], i), i)
    for i in range(n):
        if is_core[i]:
            continue
        cand = {labels[q] for q in neigh[i] if is_core[q]}
        if cand:
            labels[i] = min(cand, key=lambda c: rep[c])
    return labels, is_core


def bloom_member(hx: str, words: list[int], m: int, k: int) -> bool:
    """Driver-side membership twin of `dedup.bloom_might_contain` (same
    double-hash arithmetic as `dedup.bloom_build`)."""
    h1 = int(hx[0:15], 16) % m
    h2 = int(hx[15:30], 16) % (m - 1) + 1
    return all(
        words[((h1 + j * h2) % m) >> 5] >> (((h1 + j * h2) % m) & 31) & 1
        for j in range(k))


def simhash_bits(text: Column, shingle_k: int, n_bits: int) -> Column:
    """SimHash fingerprint as one native fold over the shingle hashes:
    the Column spec that `dedup.simhash_fingerprints` and the SQL
    `simhash16` function must match bit for bit.

    Bit j of the fingerprint = majority vote over shingles of bit j of
    md5(shingle). A single `aggregate` accumulates all per-bit counts
    (zip_with against the hash's expanded bit array).
    """
    sh = shingles(text, shingle_k)
    n = F.size(sh)
    hashes = F.transform(sh, F.md5)

    def hash_bits(h):
        # 4 bits per hex nibble, MSB first — n_bits//4 nibbles
        nibs = F.transform(
            F.sequence(F.lit(1), F.lit(n_bits // 4)),
            lambda i: F.conv(F.substring(h, i, 1), 16, 10).cast("int"))
        return F.flatten(F.transform(
            nibs,
            lambda v: F.array(
                F.shiftright(v, 3).bitwiseAND(F.lit(1)),
                F.shiftright(v, 2).bitwiseAND(F.lit(1)),
                F.shiftright(v, 1).bitwiseAND(F.lit(1)),
                v.bitwiseAND(F.lit(1)))))

    counts = F.aggregate(
        hashes,
        F.array_repeat(F.lit(0), n_bits),
        lambda acc, h: F.zip_with(acc, hash_bits(h), lambda a, b: a + b))
    # literal per-bit weights; bit 0 is the MSB (1<<63 wraps to the
    # sign bit)
    weights = F.array(*[
        F.shiftleft(F.lit(1).cast("long"), n_bits - 1 - j)
        for j in range(n_bits)])
    picked = F.zip_with(counts, weights,
                        lambda c, w: F.when(c * 2 >= n, w)
                                      .otherwise(F.lit(0).cast("long")))
    return F.aggregate(picked, F.lit(0).cast("long"), lambda a, v: a + v)
