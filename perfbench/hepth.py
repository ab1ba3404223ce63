"""Inputs and expected outputs for the `hepth_cli` workload.

The density input is `fixtures.synth_hepth_dataset` (reference per-year
node and edge counts, seeded topology). The diameter input is a smaller
graph built the same way from `DIAMETER_COUNTS`, so that the exact pair
BFS runs distributed (more than `local_threshold` directed edges) yet
converges in a few rounds. Expected hop plots come from an independent
driver-side BFS replay of the generated text files.
"""

from __future__ import annotations

import csv
import glob
import os
import random
from collections import defaultdict, deque

#: (year, cumulative papers, cumulative citations) of the diameter graph:
#: 1,100 citations among 160 papers, i.e. 2,200 directed edges (above the
#: BFS's 2,000-edge driver-local cutover) and a 3-hop diameter.
DIAMETER_COUNTS = [(1992, 160, 1100)]
MAX_D = 20


def write_graph(out_dir: str, counts: list[tuple[int, int, int]], seed: int) -> None:
    """Reference text formats; each year's new papers cite strictly
    smaller ids, as in `fixtures.synth_hepth_dataset`."""
    rng = random.Random(seed)
    pub: list[str] = []
    cit: list[str] = []
    prev_n = prev_e = 0
    for year, n_cum, e_cum in counts:
        start, n_new = prev_n + 1, n_cum - prev_n
        pub += [f"{i}\t{year}-03-15" for i in range(start, start + n_new)]
        seen: set[tuple[int, int]] = set()
        while len(seen) < e_cum - prev_e:
            f = rng.randrange(max(start, 2), start + n_new)
            t = rng.randrange(1, f)
            if (f, t) not in seen:
                seen.add((f, t))
                cit.append(f"{f} {t}")
        prev_n, prev_e = n_cum, e_cum
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, "citations.txt"), "w") as fh:
        fh.write("# FromNodeId ToNodeId\n" + "\n".join(cit) + "\n")
    with open(os.path.join(out_dir, "published-dates.txt"), "w") as fh:
        fh.write("\n".join(pub) + "\n")


def _read_pairs(path: str, sep: str | None) -> list[list[str]]:
    with open(path) as fh:
        return [ln.split(sep) for ln in fh if ln.strip() and not ln.startswith("#")]


def expected_hop_plots(in_dir: str) -> dict[int, list[tuple[int, int, float]]]:
    """Per snapshot year: the hop-plot rows (d, g(d), percent) under the
    reference's strict stop rule, with the BFS run to convergence for
    the denominator. Years whose snapshot has no edge are absent."""
    years = {int(i): int(d[:4]) for i, d in _read_pairs(os.path.join(in_dir, "published-dates.txt"), "\t")}
    edges = [(int(a), int(b)) for a, b in _read_pairs(os.path.join(in_dir, "citations.txt"), None)]
    out = {}
    for year in sorted(set(years.values())):
        adj: dict[int, set[int]] = defaultdict(set)
        for a, b in edges:
            if a != b and years.get(a, year + 1) <= year and years.get(b, year + 1) <= year:
                adj[a].add(b)
                adj[b].add(a)
        if not adj:
            continue
        per_d: dict[int, int] = defaultdict(int)
        for s in adj:
            dist = {s: 0}
            queue = deque([s])
            while queue:
                u = queue.popleft()
                if dist[u] == MAX_D:
                    continue
                for v in adj[u]:
                    if v not in dist:
                        dist[v] = dist[u] + 1
                        queue.append(v)
            for v, d in dist.items():
                if v > s:
                    per_d[d] += 1
        cum, acc = [], 0
        for d in sorted(per_d):
            acc += per_d[d]
            cum.append((d, acc))
        total = cum[-1][1]
        rows: list[tuple[int, int, float]] = []
        for d, g in cum:
            if d > 2 and rows[-1][2] > 0.90:
                break
            rows.append((d, g, g / total))
        out[year] = rows
    return out


def read_csv_dir(path: str) -> list[list[str]]:
    parts = sorted(glob.glob(os.path.join(path, "part-*.csv")))
    rows: list[list[str]] = []
    for p in parts:
        with open(p, newline="") as fh:
            rows += list(csv.reader(fh))[1:]
    return rows


def hop_plots_match(out_dir: str, expected: dict[int, list[tuple[int, int, float]]]) -> bool:
    written = sorted(int(p.rsplit("_", 1)[1]) for p in glob.glob(os.path.join(out_dir, "diameter_*")))
    if written != sorted(expected):
        return False
    for year, rows in expected.items():
        got = read_csv_dir(os.path.join(out_dir, f"diameter_{year}"))
        if len(got) != len(rows):
            return False
        for (d, g, pct), r in zip(rows, got):
            if int(r[0]) != d or int(r[1]) != g or abs(float(r[2]) - pct) > 1e-12:
                return False
    return True


def densities_match(out_dir: str, expected: list[tuple[int, int, int]]) -> bool:
    got = [tuple(int(v) for v in r) for r in read_csv_dir(os.path.join(out_dir, "densities"))]
    return got == [tuple(r) for r in expected]
