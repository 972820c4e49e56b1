"""Output checks for the batch workloads, computed in Python and numpy from
the benchmark's own inputs. Each check returns a list of failure messages;
an empty list means the op's output is correct."""

from __future__ import annotations

import hashlib
from itertools import combinations

import numpy as np


def output_digest(verified: np.ndarray, clusters: np.ndarray) -> str:
    """Order-independent digest of the verified pairs and the clustering."""
    h = hashlib.sha256()
    for arr in (verified, clusters):
        arr = np.ascontiguousarray(arr, dtype=np.int64).reshape(-1, 2)
        h.update(arr[np.lexsort((arr[:, 1], arr[:, 0]))].tobytes())
        h.update(b"|")
    return h.hexdigest()


def jaccard(a: set, b: set) -> float:
    inter = len(a & b)
    union = len(a) + len(b) - inter
    return inter / union if union else 0.0


def _union_find(nodes, edges) -> dict[int, int]:
    """node -> min node of its component."""
    parent = {int(n): int(n) for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(int(a)), find(int(b))
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


def check_pairs(verified: np.ndarray, sets: dict[int, set], theta: float) -> list[str]:
    """Every verified pair is ordered, unique, and has exact Jaccard >= theta."""
    errs = []
    if len(verified) and not (verified[:, 0] < verified[:, 1]).all():
        errs.append("verified pair with id_a >= id_b")
    if len({(int(a), int(b)) for a, b in verified}) != len(verified):
        errs.append("duplicate verified pairs")
    low = [
        (int(a), int(b))
        for a, b in verified
        if int(a) not in sets or int(b) not in sets or jaccard(sets[int(a)], sets[int(b)]) < theta
    ]
    if low:
        errs.append(f"{len(low)} verified pairs below theta or unknown, e.g. {low[:3]}")
    return errs


def check_clusters(
    clusters: np.ndarray,
    verified: np.ndarray,
    file_ids: np.ndarray,
    content_hash: list[str],
) -> list[str]:
    """Clusters equal a union-find over verified pairs plus the byte-equal
    edges the benchmark derives from its own inputs; every file is present
    once; cluster_id is the component's min member."""
    errs = []
    got = {int(f): int(c) for f, c in clusters}
    if len(got) != len(clusters):
        errs.append("a file appears in more than one cluster row")
    if set(got) != {int(f) for f in file_ids}:
        errs.append(f"cluster rows cover {len(got)} files, input has {len(file_ids)}")
        return errs
    first_of: dict[str, int] = {}
    byte_edges = []
    for fid, h in zip(file_ids, content_hash):
        if h in first_of:
            byte_edges.append((first_of[h], int(fid)))
        else:
            first_of[h] = int(fid)
    split = sum(got[a] != got[b] for a, b in byte_edges)
    if split:
        errs.append(f"{split} byte-equal files are not in their copy's cluster")
    want = _union_find(file_ids, [*map(tuple, verified), *byte_edges])
    wrong = sum(got[n] != want[n] for n in want)
    if wrong:
        errs.append(f"{wrong} files differ from the union-find clustering")
    return errs


def truth_recall(
    clusters: np.ndarray,
    file_ids: np.ndarray,
    family: list[str],
    family_id: np.ndarray,
    sets: dict[int, set],
    theta: float,
) -> dict[str, tuple[int, int]]:
    """stratum -> (true pairs found in one cluster, true pairs).

    `family`: within-family pairs with exact Jaccard >= theta. `bp_cross`:
    pairs of boilerplate files from different families with Jaccard >= theta
    (the shared header puts them near theta; exhaustive here)."""
    cl = {int(f): int(c) for f, c in clusters}
    by_family: dict[int, list[int]] = {}
    boiler = []
    for fid, kind, fam in zip(file_ids, family, family_id):
        if kind != "unique":
            by_family.setdefault(int(fam), []).append(int(fid))
        if kind == "boilerplate":
            boiler.append((int(fam), int(fid)))
    strata = {
        "family": [p for ids in by_family.values() for p in combinations(ids, 2)],
        "bp_cross": [
            (a, b) for (fa, a), (fb, b) in combinations(boiler, 2) if fa != fb
        ],
    }
    out = {}
    for name, pairs in strata.items():
        true = [(a, b) for a, b in pairs if jaccard(sets[a], sets[b]) >= theta]
        out[name] = (sum(cl.get(a) == cl.get(b) for a, b in true), len(true))
    return out
