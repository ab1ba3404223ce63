"""Pure-Python exact all-pairs BFS: the reference the hop-plot BFS tiers
are pinned to (tests/test_hopplot_kernel.py, tests/test_fixture_graph.py)."""

from __future__ import annotations

from collections import defaultdict, deque


def reference_pairs_by_distance(
    edge_list: list[tuple], max_d: int
) -> list[tuple[int, int]]:
    """[(d, cumulative unordered pairs at shortest distance <= d)] of
    the undirected graph on `edge_list` (either orientation; self-loops
    and duplicates ignored), BFS'd from every vertex up to `max_d`."""
    adj: dict = defaultdict(set)
    for s, t in edge_list:
        if s != t:
            adj[s].add(t)
            adj[t].add(s)
    per_d: dict = defaultdict(int)
    for s in adj:
        dist = {s: 0}
        dq = deque([s])
        while dq:
            u = dq.popleft()
            if dist[u] >= max_d:
                continue
            for v in adj[u]:
                if v not in dist:
                    dist[v] = dist[u] + 1
                    dq.append(v)
        for t, d in dist.items():
            if t > s:  # each unordered pair counted once
                per_d[d] += 1
    counts: list[tuple[int, int]] = []
    acc = 0
    for d in sorted(per_d):
        acc += per_d[d]
        counts.append((d, acc))
    return counts
