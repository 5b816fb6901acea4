"""Reference answers the benchmark computes itself, in plain Python and
numpy, to check the outputs of the code under test.

Comparisons of similarity rankings are tie-tolerant: two engines that
sum in a different order can differ in the last bits of a score, so a
ranking is accepted when every returned score matches the reference
score of that id and no better-scoring id was left out.
"""

from __future__ import annotations

import hashlib
import re

import numpy as np

SCORE_TOL = 1e-9


# -- vectors --

def cosine_scores(mat: np.ndarray, norms: np.ndarray, q: np.ndarray) -> np.ndarray:
    return (mat @ q) / (norms * float(np.linalg.norm(q)))


def topk_ids(ids: np.ndarray, scores: np.ndarray, k: int) -> list[int]:
    """Top-k by score desc, id asc."""
    order = np.lexsort((ids, -scores))[:k]
    return [int(ids[i]) for i in order]


def check_topk(got: list[tuple[int, float]], ids: np.ndarray, scores: np.ndarray, k: int) -> str | None:
    """got = [(id, score)] in rank order. Returns a reason or None."""
    want = min(k, len(ids))
    if len(got) != want:
        return f"{len(got)} hits, want {want}"
    pos = {int(i): j for j, i in enumerate(ids)}
    kth = scores[np.lexsort((ids, -scores))[want - 1]]
    prev = np.inf
    for gid, gs in got:
        if gid not in pos:
            return f"id {gid} not in corpus"
        ref = scores[pos[gid]]
        if abs(ref - gs) > SCORE_TOL:
            return f"id {gid} score {gs} != {ref}"
        if ref < kth - SCORE_TOL:
            return f"id {gid} score {ref} below k-th best {kth}"
        if gs > prev + SCORE_TOL:
            return "scores not descending"
        prev = gs
    if len({g for g, _ in got}) != len(got):
        return "duplicate ids"
    return None


def nearest_cell(mat: np.ndarray, centroids: np.ndarray) -> np.ndarray:
    d = np.sqrt(((mat[:, None, :] - centroids[None, :, :]) ** 2).sum(axis=2))
    return d.argmin(axis=1)


def probe_cells(q: np.ndarray, centroids: np.ndarray, nprobe: int) -> list[int]:
    d = np.sqrt(((centroids - q[None, :]) ** 2).sum(axis=1))
    return [int(c) for c in np.lexsort((np.arange(len(d)), d))[:nprobe]]


# -- text --

def normalize(text: str) -> str:
    t = re.sub(r"[^a-z0-9 ]", "", text.lower())
    return re.sub(r" +", " ", t).strip(" ")


def md5_hex(s: str) -> str:
    return hashlib.md5(s.encode()).hexdigest()


def md5_long(s: str, seed: int | None = None, width: int = 15) -> int:
    if seed is not None:
        s = f"{seed}:{s}"
    return int(md5_hex(s)[:width], 16)


def shingles(text: str, n: int = 3) -> set[str]:
    toks = text.split(" ")
    return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)} - {""}


def exact_groups(texts: dict[int, str]) -> dict[int, int]:
    """doc id -> keeper id (min id sharing its normalized text)."""
    keeper: dict[str, int] = {}
    for i in sorted(texts):
        keeper.setdefault(normalize(texts[i]), i)
    return {i: keeper[normalize(texts[i])] for i in texts}


def minhash_lsh_pairs(
    texts: dict[int, str], num_hashes: int = 8, bands: int = 4, rows: int = 2,
    max_bucket: int | None = None,
) -> dict[tuple[int, int], int]:
    """Candidate pairs of the md5 MinHash family with banding and the
    hot-bucket cap: (a, b) -> number of shared band buckets."""
    buckets: dict[tuple[int, str], list[int]] = {}
    for i, t in texts.items():
        sh = shingles(t)
        if not sh:
            continue
        ab = [(md5_long(s, 0), md5_long(s, 1, 14)) for s in sh]
        sig = [min(a + r * b for a, b in ab) for r in range(num_hashes)]
        for band in range(bands):
            key = md5_hex("|".join(str(sig[band * rows + r]) for r in range(rows)))
            buckets.setdefault((band, key), []).append(i)
    out: dict[tuple[int, int], int] = {}
    for members in buckets.values():
        if len(members) < 2 or (max_bucket is not None and len(members) > max_bucket):
            continue
        members = sorted(members)
        for x in range(len(members)):
            for y in range(x + 1, len(members)):
                p = (members[x], members[y])
                out[p] = out.get(p, 0) + 1
    return out


def jaccard_pairs(texts: dict[int, str], threshold: float) -> dict[tuple[int, int], float]:
    """Every pair with hashed 3-gram Jaccard >= threshold (all pairs,
    via an inverted index on shingle hashes)."""
    sets = {i: {md5_long(s) for s in shingles(t)} for i, t in texts.items()}
    post: dict[int, list[int]] = {}
    for i in sorted(sets):
        for h in sets[i]:
            post.setdefault(h, []).append(i)
    cand: set[tuple[int, int]] = set()
    for ids in post.values():
        for x in range(len(ids)):
            for y in range(x + 1, len(ids)):
                cand.add((ids[x], ids[y]))
    out = {}
    for a, b in cand:
        inter = len(sets[a] & sets[b])
        j = inter / (len(sets[a]) + len(sets[b]) - inter)
        if j >= threshold:
            out[(a, b)] = j
    return out


def components(pairs) -> dict[int, int]:
    """Union-find: node -> min node id of its component."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}
