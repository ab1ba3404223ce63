"""Tiny fixture citation graph (FIXTURES.md §3).

17 directed edges over 11 nodes, publication years 1992-1998. Used by
tests and by the fixture-graph `queries()` entries, where the DuckDB
oracle embeds the same values as a VALUES list.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from . import schemas
from .sources.local import local_rows

FIXTURE_EDGES: list[tuple[int, int]] = [
    (2, 1), (3, 1), (4, 1), (9, 3), (5, 3), (7, 3), (4, 2), (9, 2),
    (5, 4), (7, 4), (10, 5), (6, 5), (10, 6), (8, 6), (8, 7), (9, 8),
    (11, 8),
]

FIXTURE_YEARS: dict[int, int] = {
    1: 1992, 2: 1993, 3: 1993, 4: 1994, 5: 1995, 6: 1996,
    7: 1996, 8: 1997, 9: 1997, 10: 1997, 11: 1998,
}


def fixture_citations(spark: SparkSession) -> DataFrame:
    return local_rows(spark, FIXTURE_EDGES, schema=schemas.CITATIONS)


def fixture_published(spark: SparkSession) -> DataFrame:
    rows = sorted(FIXTURE_YEARS.items())
    return local_rows(spark, rows, schema=schemas.PUBLISHED_DATES)


def edges_values_sql() -> str:
    """The fixture edge list as a SQL VALUES body (for DuckDB oracles)."""
    return ", ".join(f"({a}, {b})" for a, b in FIXTURE_EDGES)


def years_values_sql() -> str:
    return ", ".join(f"({i}, {y})" for i, y in sorted(FIXTURE_YEARS.items()))


# --------------------------------------------------------------------------
# Synthetic hep-th-shaped dataset (SURVEY.md §7.6(b))
# --------------------------------------------------------------------------

#: The reference's published per-year cumulative (n(t), e(t)) — its golden
#: data/output/densities.csv (the raw citations.txt is absent from the
#: reference checkout, .MISSING_LARGE_BLOBS:1). A synthetic graph built to
#: these counts reproduces the golden density output EXACTLY and gives the
#: CLI a full-scale (37k-node / 347k-edge) end-to-end workout.
HEPTH_DENSITIES: list[tuple[int, int, int]] = [
    (1992, 850, 170), (1993, 2826, 2919), (1994, 5674, 11519),
    (1995, 9047, 30055), (1996, 12865, 59236), (1997, 16985, 98687),
    (1998, 21457, 143301), (1999, 26211, 201485), (2000, 31286, 265655),
    (2001, 36345, 334212), (2002, 37201, 347414),
]


def synth_hepth_dataset(out_dir: str, max_year: int = 2002, seed: int = 20260814) -> None:
    """Write a deterministic citations.txt + published-dates.txt whose
    per-year cumulative node/edge counts equal HEPTH_DENSITIES (truncated
    at `max_year`) — reference text formats, reference scale.

    Construction: node ids are assigned sequentially per year; each
    year's new citations go from a (seeded-uniform) paper of that year to
    a strictly smaller id — so every citing paper carries that year's
    date (density attributes edges to the CITING paper's year) and every
    cited paper is published the same year or earlier (so snapshots keep
    them). Edges are unique; ids stay clear of the 9-digit `11`-prefix
    normalization. Uniform attachment is topology-agnostic on purpose:
    the validation target is the reference's COUNT semantics, not its
    (unpublishable) citation topology."""
    import random

    rng = random.Random(seed)
    rows = [r for r in HEPTH_DENSITIES if r[0] <= max_year]
    pub_lines: list[str] = []
    cit_lines: list[str] = []
    prev_n = prev_e = 0
    for year, n_cum, e_cum in rows:
        start = prev_n + 1
        n_new = n_cum - prev_n
        for i in range(start, start + n_new):
            pub_lines.append(f"{i}\t{year}-03-15")
        made = 0
        seen: set[tuple[int, int]] = set()
        while made < e_cum - prev_e:
            f = rng.randrange(start, start + n_new)
            if f < 2:
                continue
            t = rng.randrange(1, f)
            if (f, t) in seen:
                continue
            seen.add((f, t))
            cit_lines.append(f"{f} {t}")
            made += 1
        prev_n, prev_e = n_cum, e_cum

    with open(f"{out_dir}/citations.txt", "w") as fh:
        fh.write("# synthetic hep-th-shaped citation graph\n")
        fh.write("# FromNodeId ToNodeId\n")
        fh.write("\n".join(cit_lines) + "\n")
    with open(f"{out_dir}/published-dates.txt", "w") as fh:
        fh.write("# synthetic publication dates\n")
        fh.write("\n".join(pub_lines) + "\n")
