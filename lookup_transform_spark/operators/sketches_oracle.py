"""DuckDB oracle for the log-bucketed quantile sketch (VERDICT r8 #5).

The sketch pipeline is deterministic end-to-end except for TWO float
primitives: ``log`` in the bucket index and ``pow`` in the bucket
midpoint. The old rows-only rationale ("libm ulp differences could
flip a boundary") over-counted the exposure:

- the DIVISOR ``log(BASE)`` is a Python ``math.log`` literal baked
  into the Spark plan — so the oracle embeds the *same 17-digit
  float literal* instead of calling ``ln(BASE)`` in DuckDB, removing
  that divergence entirely;
- what remains is ``ln(|v|/LO)`` (JVM ``Math.log`` vs DuckDB libm)
  flipping ``floor`` only when the ratio sits within ~1 ulp of an
  exact bucket boundary, and ``pow(BASE, k-0.5)`` differing in the
  last ulp of an OUTPUT value. The first is measure-zero per fixture
  (and the comparison is deterministic — a hit would fail loudly);
  the second is squashed by rounding the emitted quantiles to 6 dp on
  BOTH sides (the sketch's own error bound is ±2%, nine orders of
  magnitude coarser).

Merge-transparency makes the oracle single-level: the registry query
builds per-(group, shard) leaves and merges — pinned bit-equal to
bucketing the raw union directly (``tests/test_sketches.py``), so the
SQL groups straight by the final key.
"""

from __future__ import annotations

import math

#: sketch parameters — owned here (the dependency-free module) so the
#: engine and its oracle can never drift; sketches.py imports them (the
#: synthetic.py/synthetic_oracle.py convention). Quantile buckets are
#: [LO·BASE^k, LO·BASE^(k+1)); the portable HLL has 2^HLL_P registers.
BASE = 1.04
LO = 0.01
HLL_P = 12
HLL_M = 1 << HLL_P
HLL_WBITS = 52
HLL_ALPHA = 0.7213 / (1 + 1.079 / HLL_M)


def qsketch_oracle_sql(
    table: str,
    group_col: str,
    value_col: str,
    probs: list[float],
) -> str:
    """Quantiles of ``value_col`` per ``group_col`` under the sketch's
    lower-exact-quantile convention: the midpoint of the first bucket
    whose running count reaches ``ceil(p · n)``."""
    logbase = repr(math.log(BASE))  # the Spark plan's literal, verbatim
    bucket = f"""CASE
      WHEN isnan({value_col}) OR isinf({value_col}) THEN NULL
      WHEN abs({value_col}) <= {LO!r} THEN 0
      WHEN {value_col} < 0 THEN
        -((floor(ln(abs({value_col}) / {LO!r}) / {logbase})::INT) + 1)
      ELSE (floor(ln(abs({value_col}) / {LO!r}) / {logbase})::INT) + 1
    END"""
    picks = []
    for p in probs:
        name = "p" + ("%g" % (p * 100)).replace(".", "_").replace("-", "m")
        # midpoint sign·LO·BASE^(|k|−0.5), 0 for bucket 0; 6-dp rounded
        # to absorb pow's last-ulp cross-engine freedom
        picks.append(f"""round((
      SELECT CASE WHEN c.bk = 0 THEN 0.0
                  WHEN c.bk < 0 THEN -({LO!r} * pow({BASE!r}, (-c.bk)::DOUBLE - 0.5))
                  ELSE {LO!r} * pow({BASE!r}, c.bk::DOUBLE - 0.5) END
      FROM cum c
      WHERE c.{group_col} = n.{group_col}
        AND c.cum >= ceil({p!r} * n.n_rows)::BIGINT
      ORDER BY c.bk ASC LIMIT 1
    ), 6) AS {name}""")
    sel = ",\n    ".join(picks)
    return f"""
WITH b AS (
  SELECT {group_col}, ({bucket}) AS bk
  FROM {table}
),
pb AS (
  SELECT {group_col}, bk, COUNT(*) AS c
  FROM b WHERE bk IS NOT NULL
  GROUP BY {group_col}, bk
),
cum AS (
  SELECT {group_col}, bk, c,
         SUM(c) OVER (PARTITION BY {group_col} ORDER BY bk
                      ROWS UNBOUNDED PRECEDING) AS cum
  FROM pb
),
n AS (
  SELECT g.{group_col}, COALESCE(t.n_rows, 0) AS n_rows
  FROM (SELECT DISTINCT {group_col} FROM b) g
  LEFT JOIN (SELECT {group_col}, SUM(c) AS n_rows FROM pb
             GROUP BY {group_col}) t USING ({group_col})
)
SELECT n.{group_col}, n.n_rows,
    {sel}
FROM n
ORDER BY n.{group_col}
"""


def hll_portable_oracle_sql(
    table: str,
    group_col: str,
    leaf_col: str,
    key_col: str,
) -> str:
    """Oracle for the portable HLL rollup: registers are integer-exact
    (md5 bucket + base-2-string bit length), merge transparency makes
    the two-level (group, leaf) → group rollup equal to grouping the
    raw keys directly (per-bucket MAX is associative), and the two
    float steps (harmonic mean, linear-counting ln) are 3-dp rounded
    on both sides. The alpha·m² constant is a Python literal embedded
    verbatim, so neither engine recomputes it."""
    am2 = repr(HLL_ALPHA * HLL_M * HLL_M)
    m = float(HLL_M)
    rank = (
        f"CASE WHEN w = 0 THEN {HLL_WBITS + 1} "
        f"ELSE {HLL_WBITS + 1} - length(to_base(w, 2)) END"
    )
    return f"""
WITH br AS (
  SELECT {group_col},
         ('0x' || substr(md5({key_col}::VARCHAR), 1, 3))::INTEGER AS b,
         ('0x' || substr(md5({key_col}::VARCHAR), 4, 13))::BIGINT AS w
  FROM {table} WHERE {key_col} IS NOT NULL
),
regs AS (
  SELECT {group_col}, b, MAX({rank}) AS r FROM br GROUP BY {group_col}, b
),
agg AS (
  SELECT {group_col}, SUM(pow(0.5, r)) AS s_present,
         COUNT(*)::DOUBLE AS present
  FROM regs GROUP BY {group_col}
),
n AS (
  SELECT {group_col}, COUNT({key_col}) AS n_rows
  FROM {table} GROUP BY {group_col}
),
est AS (
  SELECT a.{group_col},
         {am2} / (a.s_present + ({m!r} - a.present)) AS e_raw,
         {m!r} - a.present AS v0
  FROM agg a
)
SELECT n.{group_col},
       COALESCE(round(CASE WHEN e.e_raw <= {2.5 * m!r} AND e.v0 > 0
                  THEN {m!r} * ln({m!r} / e.v0)
                  ELSE e.e_raw END, 3), 0.0) AS approx_distinct,
       n.n_rows
FROM n LEFT JOIN est e USING ({group_col})
"""
