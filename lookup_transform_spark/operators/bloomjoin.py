"""Bloom-prefiltered semi join: shrink a fact-side shuffle with a tiny
broadcastable summary of a large-but-selective key set.

The 100 TB problem this solves: a semi join `fact SEMI JOIN keys` where
``keys`` is too big to broadcast raw (say, a quarter of a 100 TB orders
table) forces a full shuffle of the fact side. Spark's own runtime
semi-join reduction (`spark.sql.optimizer.runtime.bloomFilter.*`) only
injects when plan statistics prove the creation side small — which
never happens for a filtered scan without CBO stats (filters don't
shrink `sizeInBytes`), and `bloom_filter_agg` is not in the public
function registry to do it by hand. So this operator builds the filter
explicitly — and the JOIN path is ENTIRELY JVM-side (r7 rework: the
round-6 mapInPandas/pandas_udf implementation measured SLOWER than the
shuffle it saved at every probed scale, because tens of millions of
rows through Arrow+Python cost more than shuffling them; see
BLOOM_AB.json / PLANS.md):

- **build**: one pass over the key side — each key expands to its k bit
  positions (``xxhash64`` base hash, Kirsch-Mitzenmacher double
  hashing, all whole-stage-codegen expressions), positions reduce to
  ≤ m/64 (word, bits) rows via a map-side-combined ``bit_or``
  aggregate, and the driver assembles the bitmap from that bounded
  collect (≤ 1 MiB at ``NUM_BITS``) regardless of key count or
  partition count. An m-bit filter is m/8 bytes — 1 MiB summarizes
  tens of millions of keys at ~1e-5 false-positive rate.
- **probe**: the bitmap is ONE binary Literal (1 MiB rides the task
  binary, broadcast once per executor); membership per hash is a
  1-byte ``substring`` + ``ascii(decode(...))`` + bitwise AND — pure
  whole-stage codegen, attached as a plain Filter on the fact child so
  it runs BEFORE the join exchange and only probable matches shuffle.
  No Python worker on either side. Two rejected designs, measured:
  an ``array<long>`` literal (PySpark's ``lit(list)`` builds one
  Column per element through py4j — minutes before the plan exists)
  and a broadcast 1-row bitmap DataFrame (Catalyst's join reorder
  hoists the cross join ABOVE the semi join, so the "prefilter"
  filtered the join's OUTPUT — same shuffled bytes as no filter,
  caught by the event-log byte counts in BLOOM_AB.json).
- **exactness**: the operator finishes with the real semi join on the
  survivors — Bloom false positives are eliminated there, so results
  are bit-identical to the plain semi join (pinned in
  ``tests/test_bloomjoin.py``, and the registered query shares an
  exact SQL oracle). The filter only reduces shuffled bytes; it never
  changes semantics.


Sizing: false-positive rate ≈ (1 - e^(-k·n/m))^k; ``NUM_BITS`` m=2^23
bits / ``NUM_HASHES`` k=5 gives ~1e-5 at n=200k keys and degrades
gracefully — an undersized filter costs shuffle volume, never
correctness. m must be a power of two (the modulo is a bitmask so
every step stays in codegen).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: element_at lookup table for 1<<bit without a variable-shift
#: expression (PySpark's shiftleft only takes a literal shift): index
#: bit+1 holds the int64 with only that bit set. 1<<63 is written as
#: its int64 two's-complement value. 64 elements — safe for lit().
_POW2 = [1 << i for i in range(63)] + [-(1 << 63)]

#: filter size m in bits (a power of two ≥ 64: the position modulo is a
#: bitmask) and hash count k — the sizing the module docstring derives
NUM_BITS = 1 << 23
NUM_HASHES = 5


def _hash_input(df: DataFrame, key_col: str) -> Column:
    """Normalize the key before hashing: ``xxhash64`` is TYPE-sensitive
    (IntegerType and LongType hash differently for equal values), so a
    fact keyed int32 probed against a filter built from int64 keys
    would see every true match as a miss — a FALSE NEGATIVE, the one
    failure mode a Bloom filter must never have. Integrals widen to
    long and floats to double — the same families Spark's equi-join
    coercion uses, so "would equi-join equal" implies "hashes equal"
    for the numeric types; other types (string, date, ...) hash as
    declared and ``bloom_semi_join`` refuses cross-family pairs."""
    dt = df.schema[key_col].dataType
    c = F.col(key_col)
    if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        return c.cast("long")
    if isinstance(dt, (T.FloatType, T.DoubleType, T.DecimalType)):
        # Decimals normalize through double too: xxhash64 of a decimal
        # hashes the UNSCALED value, so decimal(10,2) 1.50 and
        # decimal(10,3) 1.500 — equal after Spark's equi-join coercion —
        # would hash differently and silently DROP true matches. Equal
        # numerics cast to the same double, so "would equi-join equal"
        # again implies "hashes equal"; two distinct decimals collapsing
        # to one double is merely a false positive, which the verifying
        # join removes.
        return c.cast("double")
    return c


def _hash_family(df: DataFrame, key_col: str) -> str:
    dt = df.schema[key_col].dataType
    if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        return "integral"
    if isinstance(dt, (T.FloatType, T.DoubleType, T.DecimalType)):
        return "fractional"
    return type(dt).__name__


def _position_cols(key: Column) -> list[Column]:
    """Kirsch-Mitzenmacher double hashing as codegen expressions: k bit
    positions from one ``xxhash64`` — (h1 + i·h2) & (m-1), h2 forced
    odd. m is a power of two, so the unsigned modulo is a bitmask and
    signedness never matters."""
    mask = NUM_BITS - 1
    h = F.xxhash64(key)
    h1 = h.bitwiseAND(F.lit(mask))
    h2 = (F.shiftrightunsigned(h, 33) * F.lit(2) + F.lit(1)).cast("long")
    return [
        (h1 + F.lit(i) * h2).bitwiseAND(F.lit(mask))
        for i in range(NUM_HASHES)
    ]


def build_bloom(keys: DataFrame, key_col: str) -> bytes:
    """One pass over the key side → m-bit Bloom filter as bytes.

    Each key's k positions explode to (word, single-bit value) rows and
    reduce via ``bit_or`` — a partial (map-side) aggregate, so every
    input partition contributes at most m/64 rows to the one shuffle,
    and the driver collects at most m/64 (word, bits) rows total
    (≤ 1 MiB at ``NUM_BITS``) no matter how many keys or partitions
    the key scan has. Pure JVM end to end.
    """
    pow2 = F.lit(_POW2)
    pos = F.explode(F.array(*_position_cols(_hash_input(keys, key_col)))).alias(
        "__pos__"
    )
    words = (
        keys.select(pos)
        .select(
            F.shiftright(F.col("__pos__"), 6).alias("__word__"),
            F.element_at(
                pow2, (F.col("__pos__").bitwiseAND(F.lit(63)) + F.lit(1)).cast("int")
            ).alias("__bitval__"),
        )
        .groupBy("__word__")
        .agg(F.bit_or("__bitval__").alias("__bits__"))
        .collect()
    )
    out = np.zeros(NUM_BITS // 64, dtype=np.int64)
    for row in words:
        out[row["__word__"]] = row["__bits__"]
    return out.astype("<i8").tobytes()


def _probe_expr(key: Column, bm: Column) -> Column:
    """Codegen membership check of ``key`` against a BINARY bitmap
    column/literal: per hash, one 1-byte ``substring`` gather decoded
    via ``ascii(decode(.., ISO-8859-1))`` (latin-1 maps byte ==
    codepoint) + bitwise AND against an 8-element power-of-two lookup.
    The bitmap is byte-addressable because ``build_bloom`` writes
    little-endian words: bit p lives in byte p>>3 at bit p&7."""
    pow8 = F.lit([1, 2, 4, 8, 16, 32, 64, 128])
    cond = F.lit(True)
    for pos in _position_cols(key):
        byte = F.ascii(
            F.decode(
                F.substring(bm, (F.shiftright(pos, 3) + F.lit(1)).cast("int"), 1),
                "ISO-8859-1",
            )
        )
        bit = F.element_at(
            pow8, (pos.bitwiseAND(F.lit(7)) + F.lit(1)).cast("int")
        )
        cond = cond & (byte.bitwiseAND(bit) != F.lit(0))
    return cond


def bloom_might_contain(df: DataFrame, key_col: str, bloom: bytes) -> Column:
    """Column-valued membership probe, pure JVM: the bitmap is a single
    binary Literal (1 MiB at ``NUM_BITS`` — rides the task
    binary, broadcast once per executor) and the check is whole-stage
    codegen (``_probe_expr``). False positives possible (rate set by
    sizing), false negatives never. ``df``'s schema gives ``key_col``'s
    type, which ``_hash_input`` widens before hashing."""
    if len(bloom) != NUM_BITS // 8:
        raise ValueError("bitmap length does not match NUM_BITS")
    return _probe_expr(_hash_input(df, key_col), F.lit(bloom))


def bloom_semi_join(
    fact: DataFrame,
    keys: DataFrame,
    fact_key: str,
    keys_key: str,
) -> DataFrame:
    """Exact semi join with a pure-JVM Bloom prefilter on the fact side.

    Identical results to ``fact.join(keys, on, "left_semi")`` — the
    final semi join removes Bloom false positives — but the fact rows
    that reach the join exchange are only the probable matches, so the
    shuffle shrinks by the semi join's selectivity (the raw key set
    never broadcasts; the m/8-byte bitmap Literal does). The probe is
    a plain Filter on the fact child — below the join, so no optimizer
    rule can hoist it past the exchange (the broadcast-1-row-join
    formulation was hoisted; see the module docstring)."""
    ff, kf = _hash_family(fact, fact_key), _hash_family(keys, keys_key)
    if ff != kf:
        raise ValueError(
            f"bloom_semi_join key types are not hash-compatible: "
            f"{fact_key} is {ff}, {keys_key} is {kf} — equal values "
            "would hash differently and true matches would be DROPPED "
            "(false negatives); cast one side first"
        )
    bloom = build_bloom(keys, keys_key)
    pre = fact.filter(bloom_might_contain(fact, fact_key, bloom))
    return pre.join(
        keys, pre[fact_key] == keys[keys_key], "left_semi"
    )


#: Estimated in-memory bytes per broadcast key row: type width plus the
#: hashed-relation per-row overhead (UnsafeRow header + map slot).
_KEY_OVERHEAD = 16


def _key_width(df: DataFrame, key_col: str) -> int | None:
    """Estimated in-memory bytes per broadcast key row, or None when the
    width is genuinely unknowable (variable-width key with no column
    statistics) — the byte gate promises to err toward the bloom path,
    never toward an OOM broadcast, and a fixed guess for strings breaks
    that promise the moment keys are wider than the guess (URLs,
    fingerprints, document keys easily exceed any constant)."""
    dt = df.schema[key_col].dataType
    if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.FloatType,
                       T.DateType)):
        return 4 + _KEY_OVERHEAD
    if isinstance(dt, T.DecimalType):
        # precision ≤ 18 packs into the 8-byte long slot of the unsafe
        # row; wider decimals spill a 16-byte variable-length chunk —
        # under-counting them would err the byte gate TOWARD an OOM
        # broadcast, the one direction it promises never to err
        return (8 if dt.precision <= 18 else 16) + _KEY_OVERHEAD
    if isinstance(dt, (T.LongType, T.DoubleType, T.TimestampType)):
        return 8 + _KEY_OVERHEAD
    if isinstance(dt, (T.StringType, T.BinaryType)):
        # variable width: only a measured average (ANALYZE FOR COLUMNS
        # avgLen, propagated through the plan) is trustworthy; pad it
        # 2x for UTF-16 in-heap expansion + skew headroom
        from lookup_transform_spark.plans.lookup import _column_avg_len

        avg = _column_avg_len(df, key_col)
        return (2 * avg + _KEY_OVERHEAD) if avg is not None else None
    return None  # structs/arrays/maps: no width story — bloom path


def semi_join_auto(
    fact: DataFrame,
    keys: DataFrame,
    fact_key: str,
    keys_key: str,
    broadcast_rows: int = 5_000_000,
    broadcast_bytes: int = 128 << 20,
    force: str | None = None,
) -> DataFrame:
    """Semi join routed by the key-side size estimate (r7, VERDICT r6
    #7): the Bloom prefilter is a tool for ONE regime — a key set too
    big to broadcast probing a much bigger fact — and outside that
    regime it is pure overhead (the round-6 bench ran it where the key
    set was broadcastable all along and paid 17.8× vs the oracle).

    - key side estimated ≤ ``broadcast_rows`` AND its projected KEY
      COLUMN estimated ≤ ``broadcast_bytes`` (rows × type width +
      hashed-relation overhead) → plain semi join broadcasting ONLY the
      key column: zero fact shuffle, bloom never built. The byte gate
      exists because a row gate alone admits multi-GB wide relations
      (5M wide rows is not broadcastable even though 5M longs are);
      projecting to the key column first is what makes the byte
      estimate a function of key width alone — a semi join never needs
      the payload columns on the build side. The row estimate is
      Catalyst plan statistics (``_estimated_rows``: CBO rowCount when
      the catalog has stats, else file sizeInBytes deliberately
      OVER-counted), so the gate errs toward the bloom path, never
      toward an OOM broadcast.
    - bigger or unknown → ``bloom_semi_join``: the m/8-byte bitmap
      broadcasts instead of the raw keys and the fact shuffle carries
      only probable matches.

    ``force`` ('plain' | 'bloom') pins a path for tests and the A/B
    probe (scripts/bloom_ab_probe.py). Results are identical on every
    path (exact semi join closes both)."""
    from lookup_transform_spark.plans.lookup import _estimated_rows

    if force not in (None, "plain", "bloom"):
        raise ValueError("force must be None, 'plain' or 'bloom'")
    route = force
    if route is None:
        est = _estimated_rows(keys)
        width = _key_width(keys, keys_key)
        route = (
            "plain"
            if est is not None
            and width is not None  # unknown key width → never broadcast
            and est <= broadcast_rows
            and est * width <= broadcast_bytes
            else "bloom"
        )
    if route == "plain":
        kslim = keys.select(keys_key)
        return fact.join(
            F.broadcast(kslim), fact[fact_key] == kslim[keys_key], "left_semi"
        )
    return bloom_semi_join(fact, keys, fact_key, keys_key)
