"""Pure-Python exact BFS references: all-pairs distances, harmonic
centrality and Brandes betweenness, which the BFS family's tiers are
pinned to (tests/test_hopplot_kernel.py, tests/test_fixture_graph.py,
tests/test_graph_walks.py)."""

from __future__ import annotations

from collections import defaultdict, deque


def reference_pairs_by_distance(
    edge_list: list[tuple], max_d: int
) -> list[tuple[int, int]]:
    """[(d, cumulative unordered pairs at shortest distance <= d)] of
    the undirected graph on `edge_list` (either orientation; self-loops
    and duplicates ignored), BFS'd from every vertex up to `max_d`."""
    adj = _adjacency(edge_list)
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


def _adjacency(edge_list: list[tuple]) -> dict:
    adj: dict = defaultdict(set)
    for s, t in edge_list:
        if s != t:
            adj[s].add(t)
            adj[t].add(s)
    return adj


def reference_harmonic(edge_list: list[tuple], max_d: int) -> dict:
    """{v: sum of 1/d(v, u) over the u within max_d hops, rounded to 6
    dp} of the undirected graph on `edge_list`, for every v with an
    edge other than a self-loop."""
    adj = _adjacency(edge_list)
    out = {}
    for s in adj:
        dist = {s: 0}
        dq = deque([s])
        h = 0.0
        while dq:
            u = dq.popleft()
            if dist[u] >= max_d:
                continue
            for v in adj[u]:
                if v not in dist:
                    dist[v] = dist[u] + 1
                    dq.append(v)
                    h += 1.0 / dist[v]
        out[s] = round(h, 6)
    return out


def reference_betweenness(
    edge_list: list[tuple], source_mod: int | None, max_d: int
) -> dict:
    """{v: betweenness rounded to 6 dp, for v with a positive score} of
    the undirected graph on `edge_list` by Brandes' algorithm: pair
    dependencies over ORDERED (s, t) pairs, from the sources with
    `s % source_mod == 0` (None = all), on shortest paths of at most
    `max_d` hops."""
    adj = _adjacency(edge_list)
    bc: dict = defaultdict(float)
    for s in adj:
        if source_mod is not None and s % source_mod:
            continue
        dist = {s: 0}
        sigma = {s: 1.0}
        order = []
        preds = defaultdict(list)
        dq = deque([s])
        while dq:
            u = dq.popleft()
            order.append(u)
            if dist[u] >= max_d:
                continue
            for v in adj[u]:
                if v not in dist:
                    dist[v] = dist[u] + 1
                    dq.append(v)
                if dist[v] == dist[u] + 1:
                    sigma[v] = sigma.get(v, 0.0) + sigma[u]
                    preds[v].append(u)
        delta: dict = defaultdict(float)
        for w in reversed(order):
            for v in preds[w]:
                delta[v] += (sigma[v] / sigma[w]) * (1.0 + delta[w])
        for v, val in delta.items():
            if v != s:
                bc[v] += val
    return {v: round(val, 6) for v, val in bc.items() if val > 0}
