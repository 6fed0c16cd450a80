"""Mergeable quantile sketch: log-bucketed histograms as map columns.

The 100 TB pre-aggregation idiom for percentiles, companion to the HLL
distinct-count rollup (``sketch_hll_rollup``): exact percentiles need
the raw values (selection), so any per-slice percentile over 100 TB
either rescans raw data per slice or keeps a MERGEABLE summary. This
module keeps an HdrHistogram-style summary — counts in geometric
buckets ``[LO·BASE^k, LO·BASE^(k+1))`` — with three properties that
make it the right distributed shape:

- **bounded size**: a sketch is ≤ a few hundred (bucket, count) entries
  regardless of input rows (map<int,long>), so leaf sketches for every
  ingest partition fit in a tiny parquet table;
- **exactly mergeable**: merging = summing counts per bucket. Unlike
  rank-error sketches (GK/KLL) there is no merge-order dependence —
  sketch(A ∪ B) EQUALS merge(sketch(A), sketch(B)), bit-for-bit, which
  ``tests/test_sketches.py`` pins;
- **bounded relative error**: a quantile read from the geometric bucket
  midpoint is within ``sqrt(BASE)`` of the true value (±2% at
  ``BASE`` 1.04) for values above ``LO`` — a VALUE-error bound,
  independent of how many rows or merges produced the sketch.

Everything is built-in expressions (groupBy/map/explode/window) — no
Python workers; the sketch build is one partial-aggregated shuffle of
(group, bucket) pairs, the rollup touches only sketch rows.

Oracle-exact since r9 (`sketch_quantile_rollup` — VERDICT r8 #5): the
libm exposure turned out narrower than the old rows-only rationale
claimed. The ``log(BASE)`` divisor is a Python literal baked into the
plan (the oracle embeds the same 17-digit float instead of calling
``ln``), and the emitted midpoints are 6-dp rounded on both sides,
absorbing ``pow``'s last-ulp freedom — see
``operators/sketches_oracle.py``. Accuracy vs Spark's exact
``F.percentile`` stays pinned in tests.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

# parameters owned by the dependency-free oracle module so engine and
# oracle can never drift (the synthetic.py convention)
from lookup_transform_spark.operators.sketches_oracle import (
    BASE,
    HLL_ALPHA as _HLL_ALPHA,
    HLL_M as _HLL_M,
    HLL_WBITS as _HLL_WBITS,
    LO,
)


def log_bucket(value: str | Column) -> Column:
    """Geometric bucket index of a double: 0 for |v| ≤ LO (absolute-
    error floor), else ``sign(v) · (floor(log(|v|/LO)/log(BASE)) + 1)``.
    Negative values get mirrored negative indices, so the bucket order
    is the value order.

    Non-finite values bucket to NULL — the same excluded-like-NULL
    contract the sketch documents for null values. Unguarded they are
    not ignorable noise (r8 review): ±Inf saturates ``floor(log(∞))``
    to Long.MaxValue and the ``+1`` ARITHMETIC_OVERFLOWs the whole job
    under ANSI mode, while NaN falls through every comparison into
    bucket 1 and silently biases each quantile toward the absolute-
    error floor."""
    v = F.col(value) if isinstance(value, str) else value
    mag = F.abs(v)
    k = (F.floor(F.log(mag / F.lit(LO)) / F.lit(math.log(BASE))) + 1).cast("int")
    return F.when(
        F.isnan(v) | (mag == F.lit(float("inf"))), F.lit(None).cast("int")
    ).otherwise(
        F.when(mag <= LO, F.lit(0)).otherwise(
            F.when(v < 0, -k).otherwise(k)
        )
    )


def bucket_value(bucket: str | Column) -> Column:
    """Representative value of a bucket: the geometric midpoint
    ``sign · LO·BASE^(|k|-0.5)`` (0 for bucket 0) — the choice that
    gives the symmetric ``sqrt(BASE)`` relative-error bound."""
    k = F.col(bucket) if isinstance(bucket, str) else bucket
    mid = F.lit(LO) * F.pow(F.lit(BASE), F.abs(k).cast("double") - 0.5)
    return F.when(k == 0, F.lit(0.0)).otherwise(
        F.when(k < 0, -mid).otherwise(mid)
    )


def qsketch(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
) -> DataFrame:
    """Build one sketch row per group: ``sketch map<int,long>`` +
    ``n_rows``. One partial-aggregated shuffle of (group, bucket) —
    shuffle volume is O(groups × buckets), not O(rows).

    Null handling — the SQL aggregate contract: null values contribute
    to no bucket and don't count toward ``n_rows`` (as with Spark's
    ``percentile``/``median``), but the GROUP survives — an
    all-null-value group emits (group, empty sketch, n_rows=0), never
    disappears, exactly as ``SELECT g, percentile(v) … GROUP BY g``
    emits (g, NULL). Null values ride through as a null bucket index
    and are dropped by ``collect_list`` at map-build time (a null
    bucket KEY would fail ``map_from_entries``, a null struct entry is
    simply skipped)."""
    per_bucket = (
        df.select(*group_cols, log_bucket(value_col).alias("__b__"))
        .groupBy(*group_cols, "__b__")
        .agg(F.count(F.lit(1)).alias("__c__"))
    )
    return _sketch_rebuild(per_bucket, group_cols)


def _sketch_rebuild(per_bucket: DataFrame, group_cols: list[str]) -> DataFrame:
    """(group, __b__, __c__) → one sketch row per group. The ONE copy of
    the map-build + n_rows contract shared by build and merge (the two
    previously spelled it twice — any fix to the null-entry/map-build
    rules must hit both paths identically or merge ≠ rebuild): a null
    bucket (null/non-finite values) contributes no map entry and no
    n_rows count, but keeps the GROUP alive — an all-null group emits
    (group, empty sketch, 0)."""
    return per_bucket.groupBy(*group_cols).agg(
        F.map_from_entries(
            F.array_sort(
                F.collect_list(
                    F.when(
                        F.col("__b__").isNotNull(),
                        F.struct("__b__", "__c__"),
                    )
                )
            )
        ).alias("sketch"),
        F.coalesce(
            F.sum(
                F.when(F.col("__b__").isNotNull(), F.col("__c__"))
            ),
            F.lit(0).cast("long"),
        ).alias("n_rows"),
    )


def qsketch_merge(df: DataFrame, group_cols: list[str]) -> DataFrame:
    """Roll leaf sketches up to a coarser grouping by summing bucket
    counts — touches ONLY sketch rows, never raw data. Output schema
    matches ``qsketch``, and the result is exactly what ``qsketch``
    would have produced on the raw union (pinned in tests)."""
    # explode_outer + the null-skipping map build keep EMPTY sketches
    # alive through the rollup (same group-survival contract as
    # qsketch: a leaf whose values were all null must not delete its
    # coarser group)
    exploded = df.select(
        *group_cols, F.explode_outer("sketch").alias("__b__", "__c__")
    )
    per_bucket = exploded.groupBy(*group_cols, "__b__").agg(
        F.sum("__c__").alias("__c__")
    )
    return _sketch_rebuild(per_bucket, group_cols)


def quantile_col_name(p: float) -> str:
    """Identifier-safe output column for quantile ``p``: p50/p95/p99,
    p=1.0 -> p100 (not 'p1.0' — an unquoted dot parses as struct-field
    access downstream), fractional percentiles use '_' (0.999 -> p99_9).
    THE naming formula — shared by every quantile reader (ADVICE r10:
    a reader prefix-matching columns on 'p' grabbed group columns)."""
    return "p" + ("%g" % (p * 100)).replace(".", "_").replace("-", "m")


def qsketch_quantiles(
    df: DataFrame,
    group_cols: list[str],
    probs: list[float],
) -> DataFrame:
    """Read quantiles out of sketch rows: per group, the value of the
    first bucket whose running count reaches ``ceil(p · n)`` (the lower
    exact-quantile convention), each within ``sqrt(BASE)`` relative
    error of the true quantile. Buckets explode to O(groups × buckets)
    rows — trivial — and the cumulative window runs per group in bucket
    order.

    Group-survival contract (same as ``qsketch``): an empty sketch
    (all-null-value group) yields its group row with NULL quantiles —
    ``explode_outer`` keeps the row a plain ``explode`` would drop,
    and the null bucket falls through every ``when`` to a NULL min."""
    exploded = df.select(
        *group_cols,
        F.col("n_rows"),
        F.explode_outer("sketch").alias("__b__", "__c__"),
    )
    w = (
        Window.partitionBy(*group_cols)
        .orderBy("__b__")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = exploded.withColumn("__cum__", F.sum("__c__").over(w))
    aggs = []
    for p in probs:
        target = F.ceil(F.lit(p) * F.col("n_rows"))
        hit = F.when(
            F.col("__cum__") >= target, F.col("__b__")
        )
        name = quantile_col_name(p)
        aggs.append(bucket_value(F.min(hit)).alias(name))
    return cum.groupBy(*group_cols, "n_rows").agg(*aggs)


# ---------------------------------------------------------------------------
# Mergeable top-k (heavy hitters) — the frequent-items member of the
# sketch family (HLL = distinct counts, qsketch = quantiles, this =
# heavy keys), r9.
#
# Design goal, same as the other two: a bounded-size per-shard summary
# a 100 TB pipeline maintains at ingest time, mergeable WITHOUT
# rescanning raw data, with a deterministic, provable error bound.
# Classic SpaceSaving/Misra-Gries summaries are ARRIVAL-ORDER
# dependent (the decrement steps see rows in partition order), so two
# runs over the same data can disagree — unacceptable under this
# repo's determinism rule and impossible to oracle. This variant is
# order-free: shards are a PURE FUNCTION of a row attribute (e.g.
# user_id % 16, a stable ingest partitioning), each shard keeps its
# EXACT top-m keys by (count desc, key asc) plus the count of its
# largest dropped key; a merged key's true total then lies in
# [lower, lower + Σ drop_max over shards whose summary omits it] —
# every quantity integer-exact, reproducible bit-for-bit by an ANSI
# SQL oracle. Summary size: m entries + 2 longs per (group, shard),
# regardless of input rows.
# ---------------------------------------------------------------------------


def topk_sketch(
    df: DataFrame,
    group_cols: list[str],
    key_col: str,
    shard_col: str | Column,
    m: int = 200,
) -> DataFrame:
    """One summary row per (group, shard): ``entries map<key,long>``
    (the shard's exact top-``m`` keys, ties broken by key), ``drop_max``
    (count of the largest key the truncation dropped — the undercount
    bound any absent key carries), and ``n_rows``. NULL keys contribute
    nothing but leave the group alive, the qsketch null contract."""
    shard = F.col(shard_col) if isinstance(shard_col, str) else shard_col
    counts = (
        df.select(*group_cols, shard.alias("__shard__"), F.col(key_col))
        .groupBy(*group_cols, "__shard__", key_col)
        .agg(F.count(F.lit(1)).alias("__c__"))
    )
    # NULL keys sort LAST in the ranking (Spark's default asc is
    # nulls-first, which would let a heavy NULL group occupy a top-m
    # rank slot, displacing a real key from the summary and — at rank
    # m+1 — poisoning drop_max with the NULL count, violating the
    # documented "NULL keys contribute nothing" contract; r9
    # self-review). With NULLs last, real keys hold contiguous ranks
    # 1..vocab, so the <= m / == m+1 conditions read pure key ranks;
    # the extra isNotNull guard on drop_max covers the
    # vocab <= m < vocab+nulls case.
    w = Window.partitionBy(*group_cols, "__shard__").orderBy(
        F.col(key_col).isNull().asc(),
        F.col("__c__").desc(),
        F.col(key_col).asc(),
    )
    ranked = counts.withColumn("__rn__", F.row_number().over(w))
    return ranked.groupBy(*group_cols, "__shard__").agg(
        F.map_from_entries(
            F.array_sort(
                F.collect_list(
                    F.when(
                        (F.col("__rn__") <= m) & F.col(key_col).isNotNull(),
                        F.struct(F.col(key_col), F.col("__c__")),
                    )
                )
            )
        ).alias("entries"),
        F.coalesce(
            F.max(
                F.when(
                    (F.col("__rn__") == m + 1) & F.col(key_col).isNotNull(),
                    F.col("__c__"),
                )
            ),
            F.lit(0).cast("long"),
        ).alias("drop_max"),
        F.coalesce(
            F.sum(F.when(F.col(key_col).isNotNull(), F.col("__c__"))),
            F.lit(0).cast("long"),
        ).alias("n_rows"),
    )


def topk_merge(leaves: DataFrame, group_cols: list[str], k: int = 10) -> DataFrame:
    """Roll shard summaries up to the final per-group top-``k`` —
    touches ONLY summary rows. Per key: ``cnt_lo`` = sum of the counts
    the summaries kept (a guaranteed undercount), ``cnt_hi`` = cnt_lo +
    Σ ``drop_max`` over the shards whose summary omits the key
    (computed as group-total drop_max minus the drop_max of the shards
    where the key IS present — no per-absent-shard join). Final
    ranking by (cnt_lo desc, key asc), top-``k`` per group. A key
    whose cnt_lo exceeds every other key's cnt_hi is PROVABLY the
    heavy hitter; the [lo, hi] columns make that check a query.

    A NULL group key is a group of its own, as in SQL ``GROUP BY``:
    its top-``k`` is returned like any other group's.

    The group drop total rides a WINDOW over the summary rows (one row
    per (group, shard)) instead of a second aggregate branch + join:
    the r9-r10 form ``localCheckpoint``-ed the summary so its two
    consumers didn't each re-scan the raw corpus, but the checkpoint is
    an eager job at PLAN-BUILD time (~0.5 s of the bench wall) and the
    join a second exchange. With the total carried on each summary row
    there is ONE consumer — no checkpoint, no join, fully lazy — and
    the window shuffles only O(groups·shards) summary rows (r11)."""
    wg = Window.partitionBy(*group_cols)
    exploded = leaves.withColumn(
        "__all_drop__", F.sum("drop_max").over(wg)
    ).select(
        *group_cols, "drop_max", "__all_drop__",
        F.explode_outer("entries").alias("__k__", "__c__"),
    )
    per_key = (
        exploded.filter(F.col("__k__").isNotNull())
        .groupBy(*group_cols, "__k__")
        .agg(
            F.sum("__c__").alias("cnt_lo"),
            F.sum("drop_max").alias("__present_drop__"),
            # constant within the group — max() just carries it through
            F.max("__all_drop__").alias("__all_drop__"),
        )
    )
    bounded = per_key.select(
        *group_cols,
        F.col("__k__").alias("key"),
        "cnt_lo",
        (
            F.col("cnt_lo") + F.col("__all_drop__") - F.col("__present_drop__")
        ).alias("cnt_hi"),
    )
    w = Window.partitionBy(*group_cols).orderBy(
        F.col("cnt_lo").desc(), F.col("key").asc()
    )
    return (
        bounded.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


# ---------------------------------------------------------------------------
# Portable HLL (r9): the distinct-count member of the sketch family in
# an ORACLE-EXACT form. Spark's built-in hll_sketch_agg is the
# production fast path (sketch_hll_rollup) but its binary sketch and
# xxhash-family hashing are engine-specific — rows-only forever. This
# variant derives registers from md5 (the repo's portable hash family):
# bucket = first 12 md5 bits, rank = leading zeros of the next 52 bits
# + 1 — every register value integer-exact and reproducible by an ANSI
# SQL oracle; the only float steps (the harmonic mean and the
# linear-counting ln) are rounded to 3 dp on both sides, absorbing
# summation-order and libm last-ulp freedom exactly like the quantile
# sketch's midpoints. Scale bound on that guarantee: the rounding slack
# is ABSOLUTE (5e-4) while the cross-engine float divergence is
# RELATIVE (~1e-12 of the estimate over the 4096-term harmonic sum), so
# exact 3-dp equality is guaranteed only while est ≲ 5e8; beyond ~1e8-1e9
# distinct values per group the third decimal may legitimately flip
# between engines (the estimate itself is ±1.6% anyway — any consumer
# comparing sketches at that cardinality should compare to relative
# precision, not fixed decimals). m = 4096 registers → ~1.6% standard error,
# ~16 KB per sketch row, merge = per-bucket MAX (associative and
# lossless: merge(sketch(A), sketch(B)) == sketch(A ∪ B) bit-for-bit,
# pinned).
# ---------------------------------------------------------------------------


def _hll_bucket_rank(key: Column) -> tuple[Column, Column]:
    """(bucket, rank) from md5: first 3 hex chars = 12-bit bucket, next
    13 hex chars = 52-bit w, rank = 52 − bitlen(w) + 1 (w=0 → 53).
    bitlen via base-2 string length — integer-exact in both engines
    (Spark ``conv(w,10,2)``, DuckDB ``to_base(w,2)``), no float log."""
    h = F.md5(key.cast("string"))
    bucket = F.conv(F.substring(h, 1, 3), 16, 10).cast("int")
    w = F.conv(F.substring(h, 4, 13), 16, 10).cast("long")
    rank = F.when(w == 0, F.lit(_HLL_WBITS + 1)).otherwise(
        F.lit(_HLL_WBITS + 1) - F.length(F.conv(w, 10, 2)).cast("int")
    )
    return bucket, rank


def fused_hll_qsketch_leaves(
    df: DataFrame,
    group_cols: list[str],
    key_col: str,
    value_col: str | Column,
) -> DataFrame:
    """BOTH families' leaf rows from ONE pass over ``df``: per (group,
    family) one sketch row, family ``'hll'`` = the portable HLL
    registers of ``key_col`` (bucket → max rank, ``n_rows`` = non-null
    keys), family ``'q'`` = ``qsketch`` of ``value_col`` —
    value-identical to running the two builders separately (pinned in
    tests/test_sketches.py against its layered HLL reference builder
    and ``qsketch``), with the HLL register map widened to the
    histogram's ``map<int,bigint>`` (registers ≤ 53, so narrowing back
    is lossless).

    Why it exists (r11, VERDICT r10 #4): the streaming maintenance
    loop's per-trigger cost is stage-scheduling, not data — two
    independent leaf builds are ~6 stages per micro-batch where this
    fused build is 3 (one scan+explode, one per-bucket exchange, one
    map-build exchange). Each input row explodes to one candidate
    entry per family; the per-bucket aggregate computes each family's
    statistic (max rank / row count) and the map build picks the right
    one per family tag — the same ``_sketch_rebuild`` null contract:
    a null bucket feeds no map entry and no n_rows, but keeps the
    (group, family) row alive."""
    bucket, rank = _hll_bucket_rank(F.col(key_col))
    key_nn = F.col(key_col).isNotNull()
    e = df.select(
        *group_cols,
        F.explode(
            F.array(
                F.struct(
                    F.lit("hll").alias("family"),
                    F.when(key_nn, bucket).alias("b"),
                    F.when(key_nn, rank).alias("r"),
                    key_nn.alias("k"),
                ),
                F.struct(
                    F.lit("q").alias("family"),
                    log_bucket(value_col).alias("b"),
                    F.lit(None).cast("int").alias("r"),
                    F.lit(False).alias("k"),
                ),
            )
        ).alias("e"),
    ).select(*group_cols, "e.family", "e.b", "e.r", "e.k")
    per_bucket = e.groupBy(*group_cols, "family", "b").agg(
        F.max("r").alias("__maxr__"),
        F.sum(F.col("k").cast("long")).alias("__nk__"),
        F.count(F.lit(1)).alias("__cnt__"),
    )
    is_hll = F.col("family") == "hll"
    val = F.when(is_hll, F.col("__maxr__").cast("long")).otherwise(
        F.col("__cnt__")
    )
    return per_bucket.groupBy(*group_cols, "family").agg(
        F.map_from_entries(
            F.array_sort(
                F.collect_list(
                    F.when(
                        F.col("b").isNotNull(),
                        F.struct(
                            F.col("b").alias("__b__"), val.alias("__c__")
                        ),
                    )
                )
            )
        ).alias("sketch"),
        F.when(is_hll, F.coalesce(F.sum("__nk__"), F.lit(0).cast("long")))
        .otherwise(
            F.coalesce(
                F.sum(F.when(F.col("b").isNotNull(), F.col("__cnt__"))),
                F.lit(0).cast("long"),
            )
        )
        .alias("n_rows"),
    )


def _hll_estimate() -> Column:
    """``approx_distinct`` from a group's register columns: ``__s__`` is
    Σ 2^-r over its ``__p__`` non-empty registers. Raw estimate
    α·m² / (__s__ + empty registers), switching to linear counting
    m·ln(m / empty) at or below 2.5·m while any register is empty."""
    m = float(_HLL_M)
    e_raw = F.lit(_HLL_ALPHA * m * m) / (
        F.col("__s__") + (F.lit(m) - F.col("__p__"))
    )
    v0 = F.lit(m) - F.col("__p__")
    est = F.when(
        (e_raw <= F.lit(2.5 * m)) & (v0 > 0),
        F.lit(m) * F.log(F.lit(m) / v0),
    ).otherwise(e_raw)
    return F.round(est, 3).alias("approx_distinct")


def hll_portable_estimate_from_leaves(
    leaves: DataFrame, group_cols: list[str]
) -> DataFrame:
    """Fused merge + estimate: the estimate consumes per-bucket
    registers directly, so rebuilding the intermediate map column
    (a whole extra aggregation stage) is pure presentation — this path
    explodes the leaves once, MAXes per (group, bucket), and reads the
    harmonic mean off those rows. Equal to the layered merge-then-
    estimate reference in tests/test_sketches.py (pinned there)."""
    leaves = leaves.localCheckpoint()  # two consumers, bounded rows
    totals = leaves.groupBy(*group_cols).agg(F.sum("n_rows").alias("n_rows"))
    regs = (
        leaves.select(
            *group_cols, F.explode_outer("sketch").alias("__b__", "__r__")
        )
        .filter(F.col("__b__").isNotNull())
        .groupBy(*group_cols, "__b__")
        .agg(F.max("__r__").alias("__r__"))
    )
    agg = regs.groupBy(*group_cols).agg(
        F.sum(F.pow(F.lit(0.5), F.col("__r__").cast("double"))).alias("__s__"),
        F.count(F.lit(1)).cast("double").alias("__p__"),
    )
    joined = totals.join(agg, group_cols, "left").select(
        *group_cols,
        F.coalesce("__s__", F.lit(0.0)).alias("__s__"),
        F.coalesce("__p__", F.lit(0.0)).alias("__p__"),
        "n_rows",
    )
    return joined.select(*group_cols, _hll_estimate(), "n_rows")


def hll_portable_distinct(
    df: DataFrame, group_cols: list[str], key_col: str
) -> DataFrame:
    """Single-query distinct-count read: register build and estimate in
    TWO partial-aggregated shuffles, no map packaging, no checkpoint.
    Inside one query the leaf→merge layering is physically meaningless
    (per-bucket MAX collapses across grains), so the registered query
    uses this; the AT-REST surface is leaf register rows (the ``'hll'``
    family of ``fused_hll_qsketch_leaves``) read back through
    ``hll_portable_estimate_from_leaves``. Direct ≡ leaves ≡ the
    layered sketch/merge/estimate reference is pinned in
    tests/test_sketches.py."""
    bucket, rank = _hll_bucket_rank(F.col(key_col))
    notnull = F.col(key_col).isNotNull()
    regs = (
        df.select(
            *group_cols,
            F.when(notnull, bucket).alias("__b__"),
            F.when(notnull, rank).alias("__r__"),
            notnull.cast("long").alias("__k__"),
        )
        .groupBy(*group_cols, "__b__")
        .agg(F.max("__r__").alias("__r__"), F.sum("__k__").alias("__n__"))
    )
    agg = regs.groupBy(*group_cols).agg(
        F.coalesce(
            F.sum(
                F.when(
                    F.col("__b__").isNotNull(),
                    F.pow(F.lit(0.5), F.col("__r__").cast("double")),
                )
            ),
            F.lit(0.0),
        ).alias("__s__"),
        F.count(F.when(F.col("__b__").isNotNull(), F.lit(1)))
        .cast("double")
        .alias("__p__"),
        F.sum("__n__").alias("n_rows"),
    )
    return agg.select(*group_cols, _hll_estimate(), "n_rows")
