"""DuckDB oracle for the ``synthdocs`` generator source: splitmix64
transpiled to ANSI-ish SQL — in a module with NO heavy imports.

Split out of ``synthetic.py`` (ADVICE r8): the registry needs the
oracle SQL *string* at import time, but the DataSource itself needs
``pyspark.sql.datasource`` + numpy + pyarrow — optional tiers the
registry's lazy-import convention keeps out of module import. The
word/lang tables live here (pure data) and ``synthetic.py`` imports
them, so the generator and its oracle can never drift apart.

The generator is a pure function of (seed, doc_id), so the oracle can
RE-DERIVE the corpus instead of reading it — which is the whole point
of checking a zero-I/O source against an independent engine. The only
obstacle is arithmetic: splitmix64 works in uint64 with wraparound,
DuckDB's HUGEINT is a checked int128. We keep every value in
[0, 2^64) as HUGEINT; add/mod are direct, and the 64x64→low-64
multiply is split into 32-bit halves so no partial product exceeds
2^65 (hugeint-safe):  (x·c) mod 2^64
    = (xl·cl + ((xl·ch + xh·cl) mod 2^32)·2^32) mod 2^64.
xor/shift route through UBIGINT (DuckDB's xor() is exact there; a
right shift of a non-negative value is integer division by 2^s).
Validated bit-for-bit against the scalar splitmix64 and row-function
spec in tests/test_sources.py.
"""

from __future__ import annotations

LANGS = ("en", "de", "es", "fr", "zh")
WORDS = (
    "data spark table scan filter join group window stream batch "
    "row value key hash sort merge shuffle part order time"
).split()

_M64 = "18446744073709551616::HUGEINT"  # 2^64


def _sql_mod64(e: str) -> str:
    return f"(({e}) % {_M64})"


def _sql_mulmod64(e: str, c: int) -> str:
    ch, cl = c >> 32, c & 0xFFFFFFFF
    xl = f"(({e}) % 4294967296::HUGEINT)"
    xh = f"(({e}) // 4294967296::HUGEINT)"
    cross = f"((({xl}) * {ch}::HUGEINT + ({xh}) * {cl}::HUGEINT) % 4294967296::HUGEINT)"
    return _sql_mod64(f"({xl}) * {cl}::HUGEINT + ({cross}) * 4294967296::HUGEINT")


def _sql_xorshift(e: str, s: int) -> str:
    return (
        f"xor(({e})::UBIGINT, (({e}) // {1 << s}::HUGEINT)::UBIGINT)::HUGEINT"
    )


def _sql_mix(e: str) -> str:
    """The splitmix64 finalizer (``synthetic._mix_vec``) as a (large,
    nested) SQL expression over HUGEINT."""
    x1 = _sql_mod64(f"({e}) + 11400714819323198485::HUGEINT")
    x2 = _sql_mulmod64(_sql_xorshift(x1, 30), 0xBF58476D1CE4E5B9)
    x3 = _sql_mulmod64(_sql_xorshift(x2, 27), 0x94D049BB133111EB)
    return _sql_xorshift(x3, 31)


def generator_oracle_sql(n: int, seed: int = 42) -> str:
    """DuckDB SQL recomputing ``lang, n_docs, total_chars`` for the
    ``synthdocs`` corpus of size ``n`` — the per-doc text is never
    materialized: n_chars = Σ len(word_i) + (n_words − 1), and word
    LENGTHS come from indexing a literal length table with the same
    mix(h+i) the generator uses for word CHOICE."""
    max_words = 5 + 40  # n_words ranges over [5, 44]
    wlens = "[" + ",".join(str(len(w)) for w in WORDS) + "]"
    langs = "['" + "','".join(LANGS) + "']"
    base = (seed * 1_000_003) % (1 << 64)
    return f"""
WITH hs AS (
  SELECT range AS doc_id, {_sql_mix(f"{base}::HUGEINT + range")} AS h
  FROM range({n})
),
d AS (
  SELECT doc_id, h,
         (5 + ((h // 65536::HUGEINT) % 40))::BIGINT AS n_words
  FROM hs
),
w AS (
  SELECT d.doc_id, d.h, d.n_words, i.range AS i
  FROM d, range({max_words}) i
  WHERE i.range < d.n_words
),
wl AS (
  SELECT doc_id, n_words,
         {wlens}[({_sql_mix("h + i")} % 20)::INT + 1] AS wlen
  FROM w
),
chars AS (
  SELECT doc_id, (SUM(wlen) + ANY_VALUE(n_words) - 1)::INT AS n_chars
  FROM wl GROUP BY doc_id
)
SELECT {langs}[(hs.h % 5)::INT + 1] AS lang,
       COUNT(*)::BIGINT AS n_docs,
       CAST(SUM(c.n_chars) AS BIGINT) AS total_chars
FROM hs JOIN chars c USING (doc_id)
GROUP BY 1
"""
