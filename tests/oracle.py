"""Pure-Python/NumPy oracles implementing the reference algorithms'
exact semantics (SURVEY.md §2.11-2.12), used to validate the Spark engine
on golden fixtures and seeded random graphs."""

from __future__ import annotations

from collections import Counter, defaultdict, deque

import numpy as np


def symmetrize(edges: list[tuple[int, int]], drop_self_loops: bool = False) -> dict[int, list[int]]:
    """directed edge list → dedup'd symmetric adjacency (sorted neighbor
    lists), matching Graph.from_edges(symmetrize=True) (edge_freq="single")."""
    s = set()
    for u, v in edges:
        if drop_self_loops and u == v:
            continue
        s.add((u, v))
        s.add((v, u))
    adj = defaultdict(list)
    for u, v in sorted(s):
        adj[u].append(v)
    return dict(adj)


def ref_pagerank(
    vertices: list[int],
    adj: dict[int, list[int]],
    alpha: float = 0.15,
    l1_threshold: float = 1e-5,
    max_supersteps: int = 10,
) -> dict[int, float]:
    """The exact PageRank recurrence of PageRank.java:64-101 /
    PageRank4Master.java:96-100 (incl. the nonstandard ÷ previous Σrank)."""
    vs = sorted(vertices)
    idx = {v: i for i, v in enumerate(vs)}
    n = len(vs)
    deg = np.array([len(adj.get(v, [])) for v in vs], dtype=np.int64)
    rank = np.full(n, 1.0 / n)
    cum = rank.sum()
    dang = rank[deg == 0].sum()
    for s in range(1, max_supersteps):
        msg = np.zeros(n)
        for v in vs:
            d = len(adj.get(v, []))
            if d > 0:
                c = rank[idx[v]] / d
                for u in adj[v]:
                    msg[idx[u]] += c
        new = ((dang / n + msg) * (1.0 - alpha) + alpha / n) / cum
        l1 = np.abs(new - rank).sum()
        cum = new.sum()
        dang = new[deg == 0].sum()
        rank = new
        if s > 1 and l1 <= l1_threshold:
            break
    return {v: float(rank[idx[v]]) for v in vs}


def ref_wcc(vertices: list[int], adj: dict[int, list[int]]) -> dict[int, int]:
    """Min vertex id per weakly connected component (Wcc.java fixpoint)."""
    label = {}
    seen = set()
    for v in sorted(vertices):
        if v in seen:
            continue
        comp = []
        q = deque([v])
        seen.add(v)
        while q:
            x = q.popleft()
            comp.append(x)
            for u in adj.get(x, []):
                if u not in seen:
                    seen.add(u)
                    q.append(u)
        m = min(comp)
        for x in comp:
            label[x] = m
    return label


def ref_lpa(
    vertices: list[int], adj: dict[int, list[int]], max_supersteps: int = 10
) -> dict[int, int]:
    """Synchronous delta LPA with the deterministic min-label tie-break
    (our documented deviation from Lpa.java:98's Random)."""
    labels = {v: v for v in vertices}
    senders = set(vertices)
    for _s in range(1, max_supersteps):
        msgs = defaultdict(list)
        for v in senders:
            for u in adj.get(v, []):
                msgs[u].append(labels[v])
        new = dict(labels)
        for u, ls in msgs.items():
            cnt = Counter(ls)
            mx = max(cnt.values())
            new[u] = min(l for l, c in cnt.items() if c == mx)
        senders = {v for v in new if new[v] != labels[v]}
        labels = new
        if not senders:
            break
    return labels


def ref_triangles(vertices: list[int], adj: dict[int, list[int]]) -> dict[int, int]:
    """Per-vertex triangle counts on the dedup'd, self-loop-free
    symmetric graph (TriangleCount.java:93-106 closed form)."""
    nbrs = {v: set(u for u in adj.get(v, []) if u != v) for v in vertices}
    out = {}
    for v in vertices:
        c = 0
        for u in nbrs[v]:
            c += len(nbrs[v] & nbrs.get(u, set()))
        out[v] = c // 2
    return out


def random_edges(
    n_vertices: int, n_edges: int, seed: int = 42, zipf_a: float = 2.0
) -> list[tuple[int, int]]:
    """Seeded power-law edge list (hubby dst distribution, like F7)."""
    rng = np.random.Generator(np.random.PCG64(seed))
    src = rng.integers(0, n_vertices, n_edges)
    u = rng.random(n_edges)
    dst = (n_vertices * u**zipf_a).astype("int64") % n_vertices
    return [(int(a), int(b)) for a, b in zip(src, dst)]


def ref_closeness(
    vertices: list[int], adj: dict[int, list[int]], sources: list[int] | None = None
) -> dict[int, float]:
    """BFS closeness = round(Σ 1/dist(start, v), 6) over (sampled) starts
    (ClosenessCentrality fixpoint + ClosenessCentralityOutput Σ1/d)."""
    starts = sorted(vertices) if sources is None else sorted(sources)
    acc = {v: 0.0 for v in vertices}
    for s in starts:
        dist = {s: 0}
        q = deque([s])
        while q:
            x = q.popleft()
            for u in adj.get(x, []):
                if u not in dist:
                    dist[u] = dist[x] + 1
                    q.append(u)
        for v, d in dist.items():
            if d > 0:
                acc[v] += 1.0 / d
    return {v: round(acc[v], 6) for v in vertices}


def ref_rings(vertices: list[int], adj: dict[int, list[int]]) -> dict[int, int]:
    """Reference-exact ring counts (RingsDetection.java:32-116): flood
    paths from each vertex to neighbors >= self; forward to neighbors >=
    root, no revisits; record closed path at its minimum vertex."""
    counts = {v: 0 for v in vertices}
    paths = [
        (u, (v,)) for v in sorted(vertices) for u in adj.get(v, []) if u >= v
    ]
    while paths:
        nxt = []
        for cur, seq in paths:
            if cur == seq[0]:
                if cur <= min(seq):
                    counts[cur] += 1
            elif cur not in seq:
                ns = seq + (cur,)
                for t in adj.get(cur, []):
                    if t >= seq[0]:
                        nxt.append((t, ns))
        paths = nxt
    return counts


def ref_betweenness(
    vertices: list[int], adj: dict[int, list[int]], sources: list[int] | None = None
) -> dict[int, float]:
    """Deterministic Brandes betweenness (unweighted, undirected halving),
    optionally restricted to a source sample."""
    starts = sorted(vertices) if sources is None else sorted(sources)
    bc = {v: 0.0 for v in vertices}
    for s in starts:
        stack, preds = [], {v: [] for v in vertices}
        sigma = {v: 0.0 for v in vertices}
        dist = {v: -1 for v in vertices}
        sigma[s], dist[s] = 1.0, 0
        q = deque([s])
        while q:
            v = q.popleft()
            stack.append(v)
            for w in adj.get(v, []):
                if dist[w] < 0:
                    dist[w] = dist[v] + 1
                    q.append(w)
                if dist[w] == dist[v] + 1:
                    sigma[w] += sigma[v]
                    preds[w].append(v)
        delta = {v: 0.0 for v in vertices}
        while stack:
            w = stack.pop()
            for v in preds[w]:
                delta[v] += sigma[v] / sigma[w] * (1.0 + delta[w])
            if w != s:
                bc[w] += delta[w]
    return {v: round(bc[v] / 2.0, 6) for v in vertices}


def ref_coreness(vertices: list[int], adj: dict[int, list[int]]) -> dict[int, int]:
    """Exact coreness by min-degree peeling (dedup'd symmetric graph)."""
    nbrs = {v: set(adj.get(v, [])) - {v} for v in vertices}
    deg = {v: len(nbrs[v]) for v in vertices}
    core = dict(deg)
    remaining = set(vertices)
    k = 0
    while remaining:
        v = min(remaining, key=lambda x: (deg[x], x))
        k = max(k, deg[v])
        core[v] = k
        remaining.discard(v)
        for u in nbrs[v]:
            if u in remaining:
                deg[u] -= 1
                nbrs[u].discard(v)
    return core
