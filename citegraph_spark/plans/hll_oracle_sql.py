"""DuckDB replay oracles for the HyperBall entries.

The HyperBall hop-plot (functions/sketches.py) is fully deterministic:
registers come from Spark's `xxhash64` (seed 42) of the node id, and the
absorb rounds are register-wise max — no RNG, no float in the register
STATE. That makes a from-scratch SQL replay possible, which upgrades
`graph_hyperball` and `graph_effective_diameter_approx` from rows-only
driver checks to full value-hash oracles:

- xxhash64 of a 4-byte int (Spark XXH64.hashInt, seed 42) is re-derived
  with HUGEINT modular arithmetic — 64-bit wrapping multiplication is
  split into 32-bit halves so no intermediate exceeds 2^96 (DuckDB
  HUGEINT overflows at 2^127, and its 64-bit types error on overflow
  rather than wrap). Verified bit-exact against `F.xxhash64` over int
  probes in tests/test_hll_oracle.py.
- rho (leading-zero rank) uses the base-2 string length — the same
  exact-integer path the Spark side uses (sketches.py init_counters_dense),
  avoiding log2 rounding at powers of two.
- counters are carried DENSE (one row per node with a 64-element list)
  through the recursive CTE; per-element max under GROUP BY node is the
  absorb. The sparse (node, idx, val) formulation is ~60x slower in
  DuckDB at 20 rounds and the dense one also matches Spark's summation
  order in the estimate (r0..r63 left-to-right).
- per-round totals replicate estimate_total_dense exactly: alpha_64 *
  64^2 / sum(2^-r) with the linear-counting branch (raw <= 2.5m and
  zeros > 0), and the rel-tol 1e-3 early stop is emulated post-hoc by
  truncating at the first stable round. Float summation noise between
  engines is ~1e-9 relative — far inside the 2-dp/4-dp output rounding.

Only the (int-typed) citation mapping's hash path is generated here; a
long-typed node column would need XXH64.hashLong instead.
"""

from __future__ import annotations

_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P5 = 0x27D4EB2F165667C5
_SEED = 42
_C1 = (_SEED + _P5 + 4) & ((1 << 64) - 1)
_M = 1 << 64


def _mulmod64(x: str, p: int) -> str:
    """64-bit wrapping multiply of HUGEINT expression `x` (in [0, 2^64))
    by constant `p`, split into 32-bit halves to stay under 2^96."""
    return (
        f"((({x}) % 4294967296) * {p}::HUGEINT + "
        f"((((({x}) // 4294967296) * {p}::HUGEINT) % 4294967296) * 4294967296))"
        f" % {_M}::HUGEINT"
    )


def _rotl(x: str, r: int) -> str:
    """64-bit rotate-left: the shifted-out high bits land in the low bits
    the shift vacated, so | is +."""
    return f"((({x}) * {1 << r}::HUGEINT + (({x}) // {1 << (64 - r)})) % {_M}::HUGEINT)"


def _xor(a: str, b: str) -> str:
    return f"xor(({a})::HUGEINT, ({b})::HUGEINT)"


def _hash_cte() -> str:
    """CTE computing h7 = xxhash64(node) (as unsigned HUGEINT) for every
    row of a `nodes(node)` CTE — Spark XXH64.hashInt(node, seed=42)."""
    h1 = _xor(f"{_C1}::HUGEINT", _mulmod64("(node::HUGEINT % 4294967296)", _P1))
    return f"""
hs AS (
  SELECT node, {_xor("h6", "h6 // 4294967296")} AS h7
  FROM (
    SELECT node, {_mulmod64("h5", _P3)} AS h6 FROM (
      SELECT node, {_xor("h4", "h4 // 536870912")} AS h5 FROM (
        SELECT node, {_mulmod64("h3", _P2)} AS h4 FROM (
          SELECT node, {_xor("h2", "h2 // 8589934592")} AS h3 FROM (
            SELECT node,
                   ({_mulmod64(_rotl("h1", 23), _P2)} + {_P3}::HUGEINT)
                     % {_M}::HUGEINT AS h2
            FROM (SELECT node, {h1} AS h1 FROM nodes)
          )
        )
      )
    )
  )
)"""


def _hyperball_core(max_d: int) -> str:
    """Recursive dense HyperBall over the lineitem citation mapping up to
    `max_d` rounds, ending at a `tot(d, total)` CTE of per-round HLL
    estimate totals (d=0 row = exact node count, the loop's seed)."""
    init_list = ", ".join(
        f"CASE WHEN idx = {j} THEN val ELSE 0 END" for j in range(64)
    )
    step_list = ", ".join(f"max(v[{j + 1}])" for j in range(64))
    return f"""
WITH RECURSIVE
cit AS (SELECT CAST(l_orderkey AS INT) AS f, CAST(l_partkey AS INT) AS t
        FROM lineitem),
edges AS (
  SELECT f AS src, t AS dst FROM cit
  UNION ALL SELECT t, f FROM cit
),
nodes AS (SELECT DISTINCT src AS node
          FROM (SELECT src FROM edges UNION ALL SELECT dst FROM edges) u(src)),
eaug AS (SELECT src, dst FROM (SELECT DISTINCT src, dst FROM edges) e
         UNION ALL SELECT node, node FROM nodes),
{_hash_cte()},
singl AS (
  SELECT node,
         CAST(h7 % 64 AS INT) AS idx,
         CAST(CASE WHEN h7 // 64 = 0 THEN 59
              ELSE 59 - length(ltrim(bin((h7 // 64)::UBIGINT), '0'))
              END AS INT) AS val
  FROM hs
),
ball AS (
  SELECT 0 AS d, node, [{init_list}] AS v FROM singl
  UNION ALL
  SELECT b.d + 1, e.src AS node, [{step_list}] AS v
  FROM ball b JOIN eaug e ON b.node = e.dst
  WHERE b.d < {max_d}
  GROUP BY b.d + 1, e.src
),
est AS (
  SELECT d, node,
         list_sum(list_transform(v, x -> power(2.0, -x))) AS denom,
         len(list_filter(v, x -> x = 0)) AS zeros
  FROM ball WHERE d > 0
),
nn AS MATERIALIZED (SELECT count(*) AS n FROM nodes),
tot AS MATERIALIZED (
  SELECT d, sum(CASE WHEN (0.709 * 4096 / denom) <= 160 AND zeros > 0
                     THEN 64 * ln(64.0 / zeros)
                     ELSE 0.709 * 4096 / denom END) AS total
  FROM est GROUP BY d
  UNION ALL
  SELECT 0, n * 1.0 FROM nn
)"""


def hyperball_oracle_sql(max_d: int = 2) -> str:
    """Oracle for graph_hyperball: (d, est_pairs) rows up to the first
    rel-tol-stable round (or max_d)."""
    return (
        _hyperball_core(max_d)
        + f""",
stab AS MATERIALIZED (
  SELECT t.d, abs(t.total - p.total) / p.total < 0.001 AS stable
  FROM tot t JOIN tot p ON p.d = t.d - 1
),
stop_d AS MATERIALIZED (SELECT coalesce(min(d), {max_d}) AS sd FROM stab WHERE stable)
SELECT CAST(t.d AS INT) AS d,
       CAST(round(greatest(0.0, (t.total - nn.n) / 2.0), 2) AS DOUBLE) AS est_pairs
FROM tot t, nn
WHERE t.d > 0 AND t.d <= (SELECT sd FROM stop_d)
ORDER BY d
"""
    )


def effective_diameter_oracle_sql(max_d: int = 20) -> str:
    """Oracle for graph_effective_diameter_approx: the 0.9-crossing
    interpolation (reference docs/PA1.pdf p.3 §3) over the truncated
    hop-plot."""
    return (
        _hyperball_core(max_d)
        + f""",
stab AS MATERIALIZED (
  SELECT t.d, abs(t.total - p.total) / p.total < 0.001 AS stable
  FROM tot t JOIN tot p ON p.d = t.d - 1
),
stop_d AS MATERIALIZED (SELECT coalesce(min(d), {max_d}) AS sd FROM stab WHERE stable),
counts AS MATERIALIZED (
  SELECT t.d, greatest(0.0, (t.total - nn.n) / 2.0) AS pairs
  FROM tot t, nn WHERE t.d > 0 AND t.d <= (SELECT sd FROM stop_d)
),
pct AS MATERIALIZED (
  SELECT d, pairs / (SELECT pairs FROM counts ORDER BY d DESC LIMIT 1) AS percent
  FROM counts
),
crossing AS MATERIALIZED (
  SELECT lo.d + (0.9 - lo.percent) / (hi.percent - lo.percent) AS d_star
  FROM pct lo JOIN pct hi ON hi.d = lo.d + 1
  WHERE lo.percent <= 0.9 AND hi.percent > 0.9
  ORDER BY lo.d LIMIT 1
),
first_row AS (SELECT d, percent FROM pct ORDER BY d LIMIT 1)
SELECT CAST(round(d_star, 4) AS DOUBLE) AS effective_diameter FROM crossing
UNION ALL
SELECT CAST(round(d * 1.0, 4) AS DOUBLE) FROM first_row
WHERE percent > 0.9 AND NOT EXISTS (SELECT 1 FROM crossing)
"""
    )
