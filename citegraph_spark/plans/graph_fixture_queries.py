"""Fixture-graph queries: the reference's exact citation-graph semantics
on the in-repo fixture (FIXTURES.md §3), with DuckDB oracles that embed
the same 17-edge graph as VALUES — the hop-plot oracle is a recursive CTE
computing shortest-path pair counts, independently of our BFS.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..fixtures import (
    edges_values_sql,
    fixture_citations,
    fixture_published,
    years_values_sql,
)
from ..sources.local import local_rows
from .entry_queries import register

_FIXTURE_CTES = f"""
ed AS (SELECT * FROM (VALUES {edges_values_sql()}) e("from", "to")),
yr AS (SELECT * FROM (VALUES {years_values_sql()}) y(id, year))
"""


@register(
    "fixture_density",
    f"""
WITH {_FIXTURE_CTES},
     outdeg AS (SELECT "from" AS f, count(*) AS c FROM ed GROUP BY 1),
     ey AS (SELECT yr.year, CAST(sum(c) AS BIGINT) AS e FROM yr
            JOIN outdeg ON yr.id = outdeg.f GROUP BY 1),
     ny AS (SELECT year, count(*) AS n FROM yr GROUP BY 1),
     nr AS (SELECT year, CAST(sum(n) OVER (ORDER BY year) AS BIGINT) AS "n(t)" FROM ny),
     er AS (SELECT year, CAST(sum(e) OVER (ORDER BY year) AS BIGINT) AS "e(t)" FROM ey)
SELECT CAST(nr.year AS INT) AS year, "n(t)", "e(t)"
FROM nr JOIN er USING (year) ORDER BY year
""",
)
def fixture_density(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G1 density on the fixture graph — the reference's flagship output
    (FIXTURES.md Table D; reference data/output/densities.csv semantics)."""
    from ..operators.graph import density

    return density(fixture_citations(spark), fixture_published(spark))


@register(
    "fixture_hopplot",
    f"""
WITH RECURSIVE {_FIXTURE_CTES},
     snap AS (
       SELECT ed."from" AS f, ed."to" AS t FROM ed
       JOIN yr a ON ed."from" = a.id JOIN yr b ON ed."to" = b.id
       WHERE a.year <= 1998 AND b.year <= 1998
     ),
     bidir AS (
       SELECT f AS s, t AS d FROM snap WHERE f <> t
       UNION SELECT t, f FROM snap WHERE f <> t
     ),
     reach AS (
       SELECT s, d, 1 AS dist FROM bidir
       UNION
       SELECT r.s, e.d, r.dist + 1 FROM reach r JOIN bidir e ON r.d = e.s
       WHERE r.dist < 20 AND r.s <> e.d
     ),
     sp AS (SELECT least(s, d) AS a, greatest(s, d) AS b, min(dist) AS dist
            FROM reach GROUP BY 1, 2),
     hist AS (SELECT dist, count(*) AS c FROM sp GROUP BY 1),
     cum AS (SELECT dist AS d, CAST(sum(c) OVER (ORDER BY dist) AS BIGINT) AS gd
             FROM hist)
SELECT CAST(d AS INT) AS d, gd AS "g(d)",
       round(gd * 1.0 / (SELECT max(gd) FROM cum), 6) AS percent_of_total
FROM cum ORDER BY d
""",
)
def fixture_hopplot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G4-G9 full-depth hop-plot of the 1998 fixture snapshot. The oracle
    recomputes shortest-path pair counts with a recursive CTE — a fully
    independent algorithm from our frontier BFS."""
    from ..operators.graph import hop_plot, snapshot_edges

    edges = snapshot_edges(fixture_citations(spark), fixture_published(spark), 1998)
    rows = hop_plot(edges, strict_stop=False)
    total = rows[-1].pairs if rows else 1
    df = local_rows(
        spark, [(r.d, r.pairs) for r in rows], schema="d int, `g(d)` long"
    )
    return df.select(
        "d",
        F.col("g(d)"),
        F.round(F.col("g(d)") / F.lit(float(total)), 6).alias("percent_of_total"),
    ).orderBy("d")


@register(
    "fixture_effective_diameter",
    f"""
WITH RECURSIVE {_FIXTURE_CTES},
     snap AS (
       SELECT ed."from" AS f, ed."to" AS t FROM ed
       JOIN yr a ON ed."from" = a.id JOIN yr b ON ed."to" = b.id
       WHERE a.year <= 1998 AND b.year <= 1998
     ),
     bidir AS (
       SELECT f AS s, t AS d FROM snap WHERE f <> t
       UNION SELECT t, f FROM snap WHERE f <> t
     ),
     reach AS (
       SELECT s, d, 1 AS dist FROM bidir
       UNION
       SELECT r.s, e.d, r.dist + 1 FROM reach r JOIN bidir e ON r.d = e.s
       WHERE r.dist < 20 AND r.s <> e.d
     ),
     sp AS (SELECT least(s, d) AS a, greatest(s, d) AS b, min(dist) AS dist
            FROM reach GROUP BY 1, 2),
     hist AS (SELECT dist, count(*) AS c FROM sp GROUP BY 1),
     cum AS (SELECT dist AS d, sum(c) OVER (ORDER BY dist) AS gd FROM hist),
     pct AS (SELECT d, gd * 1.0 / (SELECT max(gd) FROM cum) AS p FROM cum),
     xing AS (
       SELECT lo.d AS d, lo.p AS plo, hi.p AS phi
       FROM pct lo JOIN pct hi ON hi.d = lo.d + 1
       WHERE lo.p <= 0.9 AND hi.p > 0.9
     )
SELECT round(d + (0.9 - plo) / (phi - plo), 6) AS effective_diameter
FROM xing
""",
)
def fixture_effective_diameter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G10: interpolated effective diameter d* = d + (0.9 - g(d)) /
    (g(d+1) - g(d)) of the 1998 fixture snapshot (docs/PA1.pdf p.3 §3 —
    the reference leaves this step to manual post-processing)."""
    from ..operators.graph import effective_diameter, hop_plot, snapshot_edges

    edges = snapshot_edges(fixture_citations(spark), fixture_published(spark), 1998)
    rows = hop_plot(edges, strict_stop=False)
    d_star = effective_diameter(rows)
    data = [(round(d_star, 6),)] if d_star is not None else []
    return local_rows(spark, data, schema="effective_diameter double")


_RAW_DATE_LINES = [
    "# header comment",
    "9203201\t1992-03-20",
    "119203201\t1993-01-01",  # cross-listed dup of 9203201 (11-prefix, 9 digits)
    "  9204000   1992-04-01  ",  # leading/trailing/multi whitespace
    "1201       2020-05-05",  # 4-digit id: prefix rule must NOT fire
    "110000001\t1995-06-06",  # 9 digits starting 11 -> 0000001 -> 1
    "1190000001\t1996-01-01",  # 10 digits starting 11: rule must NOT fire
    "",
    "9310001\t1993-10-01",
]


@register(
    "loader_normalize_ids",
    """
WITH raw AS (SELECT * FROM (VALUES
  ('# header comment'), ('9203201' || chr(9) || '1992-03-20'),
  ('119203201' || chr(9) || '1993-01-01'),
  ('  9204000   1992-04-01  '), ('1201       2020-05-05'),
  ('110000001' || chr(9) || '1995-06-06'),
  ('1190000001' || chr(9) || '1996-01-01'), (''),
  ('9310001' || chr(9) || '1993-10-01')) v(line)),
     keep AS (SELECT line FROM raw
              WHERE NOT contains(line, '#') AND trim(line) <> ''),
     toks AS (SELECT string_split_regex(trim(line), '\\s+') AS t FROM keep),
     parsed AS (
       SELECT trim(t[1]) AS rawid,
              CAST(substring(trim(t[2]), 1, 4) AS INT) AS year
       FROM toks),
     normed AS (
       SELECT CAST(CASE WHEN length(rawid) = 9 AND starts_with(rawid, '11')
                        THEN substring(rawid, 3, 7) ELSE rawid END AS INT) AS id,
              year
       FROM parsed)
SELECT id, CAST(min(year) AS INT) AS year FROM normed GROUP BY id ORDER BY id
""",
)
def loader_normalize_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4/S5/F1-F6 + the cross-listed-id rule (reference
    DataFrameLoader.scala:58-73), oracle-checked on embedded raw lines:
    comment/blank filtering, whitespace tokenization, year slicing, the
    9-digit `11`-prefix normalization (including the 10-digit negative
    case), and deterministic min-year dedupe. As of round 12 this calls
    the REAL loader core (`sources.citations.published_dates_from_lines`)
    rather than an inline copy, so the oracle gate sees loader
    mutations directly (mutation-audit mutants M01-M03)."""
    from ..sources.citations import published_dates_from_lines

    lines = local_rows(spark, [(l,) for l in _RAW_DATE_LINES], "value string")
    return published_dates_from_lines(lines).orderBy("id")
