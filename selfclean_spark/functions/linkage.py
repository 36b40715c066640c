"""Driver-side single-linkage + LAD (dendrogram-area) off-topic scoring.

Faithful re-implementation (no SciPy) of the reference's off-topic
scorer: single-linkage clustering (selfclean/cleaner/off_topic_samples/
lad_mixin.py:18 uses ``scipy.cluster.hierarchy.single``) followed by
the LAD left-to-right cumulative-area sweep
(selfclean/scoring/lad_scoring.py:28-208).

Scale contract (SURVEY.md §2.5 A8): a full dendrogram is inherently
sequential, so this path runs ONLY on a driver-side sample (≤10⁴ rows;
distances estimated from MinHash signatures).  The distributed
off-topic analog is the anchor-isolation ranking; this module exists
for semantic parity with the reference's LAD ranking on samples.

Single-linkage here = Prim MST on the dense distance matrix (O(N²),
matching SciPy's method for 'single') + union-find merge in ascending
edge order to build the SciPy-format linkage matrix
[idx_left, idx_right, dist, count].
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np


def single_linkage(dist: np.ndarray) -> np.ndarray:
    """Dense symmetric (N, N) distance matrix → (N-1, 4) linkage matrix
    in SciPy convention (cluster ids: leaves 0..N-1, merges N..2N-2)."""
    n = dist.shape[0]
    # Prim's algorithm: grow MST from node 0
    in_tree = np.zeros(n, dtype=bool)
    best = np.full(n, np.inf)
    best_from = np.zeros(n, dtype=np.int64)
    in_tree[0] = True
    best = dist[0].copy()
    best[0] = np.inf
    best_from[:] = 0
    edges = []  # (w, u, v)
    for _ in range(n - 1):
        v = int(np.argmin(np.where(in_tree, np.inf, best)))
        edges.append((float(best[v]), int(best_from[v]), v))
        in_tree[v] = True
        closer = dist[v] < best
        best = np.where(closer & ~in_tree, dist[v], best)
        best_from = np.where(closer & ~in_tree, v, best_from)
    edges.sort(key=lambda e: (e[0], e[1], e[2]))

    parent = list(range(2 * n - 1))
    cluster_of = list(range(n))  # current cluster id of each root
    counts = [1] * n + [0] * (n - 1)

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    linkage = np.zeros((n - 1, 4))
    for i, (w, u, v) in enumerate(edges):
        ru, rv = find(u), find(v)
        cu, cv = cluster_of[ru], cluster_of[rv]
        new_id = n + i
        lo, hi = (cu, cv) if cu < cv else (cv, cu)
        linkage[i] = [lo, hi, w, counts[cu] + counts[cv]]
        counts[new_id] = counts[cu] + counts[cv]
        parent[ru] = rv
        cluster_of[find(rv)] = new_id
    return linkage


@dataclass
class _Node:
    id: int
    dist: float = 0.0
    count: int = 1
    left: "_Node | None" = None
    right: "_Node | None" = None

    def is_leaf(self) -> bool:
        return self.left is None


def to_tree(linkage: np.ndarray) -> _Node:
    """Linkage matrix → binary tree (≙ scipy.cluster.hierarchy.to_tree)."""
    n = linkage.shape[0] + 1
    nodes: dict[int, _Node] = {i: _Node(i) for i in range(n)}
    for i in range(linkage.shape[0]):
        l, r, d, c = linkage[i]
        node = _Node(n + i, dist=float(d), count=int(c),
                     left=nodes[int(l)], right=nodes[int(r)])
        nodes[n + i] = node
    return nodes[2 * n - 2]


def lad_scores(linkage: np.ndarray) -> list[tuple[float, int]]:
    """The LAD sweep (lad_scoring.py:28-208): DFS left-to-right with
    intervals proportional to subtree size (smaller subtree first),
    rectangle area (end-start)·(dist_parent-dist) accumulated into a
    global running list; each leaf's score is the cumulative area at
    visit time (plus white-space corrections between leaves)."""
    root = to_tree(linkage)
    leaf_end: float | None = None
    leaf_dist: float | None = None
    white_spaces: list[dict] = []
    scores: list[float] = []
    scoring: list[tuple[float, int]] = []
    stack: list[tuple[_Node, float, float, float]] = [(root, 0.0, 1.0, 1.0)]
    while stack:
        node, start, end, dist_parent = stack.pop()
        # white-space bookkeeping (lad_scoring.py:216-289)
        if node.dist > 0.0:
            white_spaces.append(
                {"start": end, "y_end": dist_parent, "y_start": node.dist}
            )
        if leaf_end is not None and leaf_end != start:
            square = (start - leaf_end) * (leaf_dist or 0.0)
            if square > 0.0:
                scores.append(square)
            leaf_end = None
            leaf_dist = None
            for ws in [x for x in white_spaces if x["start"] < start]:
                square = (start - ws["start"]) * (ws["y_end"] - ws["y_start"])
                if square > 0.0:
                    scores.append(square)
            white_spaces = []
        # own rectangle (lad_scoring.py:291-331)
        square = (end - start) * (dist_parent - node.dist)
        if square > 0.0:
            scores.append(square)
        if not node.is_leaf():
            left, right = node.left, node.right
            if left.count > right.count:  # smaller subtree goes left
                left, right = right, left
            w_left = start + (end - start) * (left.count / node.count)
            w_right = start + (end - start) * (right.count / node.count)
            # DFS order: left first → push right then left
            stack.append((right, w_left, w_right, node.dist))
            stack.append((left, start, w_left, node.dist))
        else:
            scoring.append((sum(scores), node.id))
            leaf_end = end
            leaf_dist = dist_parent
    return scoring


def lad_ranking(dist: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(scores, leaf indices) in LAD emission order — the reference
    returns the sweep's traversal order directly as the ranking
    (lad_mixin.py:16-34 does not re-sort; the smaller/more-isolated
    subtree is always visited first, so isolated samples emit first —
    asserted by reference test test_lad_scoring.py:9-19 via
    ``indices[0] == outlier``)."""
    linkage = single_linkage(dist)
    scoring = lad_scores(linkage)
    return (
        np.array([s for s, _ in scoring]),
        np.array([i for _, i in scoring], dtype=np.int64),
    )
