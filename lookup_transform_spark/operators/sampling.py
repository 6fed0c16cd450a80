"""Deterministic dataset splitting & sampling (training-pipeline tier).

``rand()`` splits are non-reproducible across runs and engines; content
hashing is the standard fix: bucket = first 16 bits of md5(key) → a
stable [0, 65536) value both this engine and any SQL oracle compute
identically. Splits are then pure filters — no shuffle, no state, and a
document keeps its split assignment forever (the property that prevents
train/test leakage when the corpus is re-processed).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

BUCKETS = 1 << 16


def hash_bucket(col: str | Column) -> Column:
    """Stable [0, 65536) bucket from md5 (cross-engine reproducible:
    DuckDB twin is ('0x' || substr(md5(x), 1, 4))::INTEGER)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(c.cast("string")), 1, 4), 16, 10).cast("int")


def dataset_split(
    df: DataFrame,
    key_col: str,
    train: float = 0.8,
    val: float = 0.1,
) -> DataFrame:
    """Append a ``split`` column: train/val/test by hash-bucket ranges."""
    b = hash_bucket(key_col)
    t_hi = int(BUCKETS * train)
    v_hi = int(BUCKETS * (train + val))
    return df.withColumn(
        "split",
        F.when(b < t_hi, "train").when(b < v_hi, "val").otherwise("test"),
    )


def weighted_sample(
    df: DataFrame,
    strata_col: str,
    rates: dict[str, float],
    key_col: str,
    default_rate: float = 0.0,
) -> DataFrame:
    """Deterministic Bernoulli sampling at a per-stratum rate — the
    corpus-mixing / domain-reweighting step of a training-data pipeline
    (e.g. keep 100% of English, 25% of zh, 10% of everything else).

    Keep iff hash_bucket(key) < rate * 65536: pure narrow filter (no
    shuffle, no state), reproducible across runs and engines, and a
    row's keep/drop decision is stable under reprocessing. Rates arrive
    as a literal CASE expression, so at 100 TB this is a single
    codegen'd predicate evaluated inside the scan."""
    thresh: Column | None = None
    for stratum, rate in sorted(rates.items()):
        pred = F.col(strata_col) == stratum
        lit = F.lit(int(BUCKETS * rate))
        thresh = F.when(pred, lit) if thresh is None else thresh.when(pred, lit)
    default = F.lit(int(BUCKETS * default_rate))
    thresh = default if thresh is None else thresh.otherwise(default)
    return df.filter(hash_bucket(key_col) < thresh)


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    n_per_stratum: int,
    key_col: str,
) -> DataFrame:
    """Exactly ``n_per_stratum`` rows per stratum, chosen by hash order
    (deterministic, uniform-ish, reproducible across engines/runs)."""
    w = Window.partitionBy(strata_col).orderBy(
        hash_bucket(key_col).asc(), F.col(key_col).asc()
    )
    return (
        df.withColumn("__rn__", F.row_number().over(w))
        .filter(F.col("__rn__") <= n_per_stratum)
        .drop("__rn__")
    )


def weighted_topk_sample(
    df: DataFrame,
    key_col: str,
    weight_col: str | Column,
    k: int,
) -> DataFrame:
    """EXACT-size weighted sample without replacement (r9) —
    Efraimidis–Spirakis A-ES: each row draws a deterministic uniform
    ``u`` from md5(key || '#42') and the k smallest ``-ln(u)/w`` scores
    win, which selects each row with probability proportional to its
    weight among the survivors. Complements ``weighted_sample``
    (per-stratum Bernoulli RATES, approximate output size): a curation
    pass that needs "exactly k docs, longer docs favored" uses this.

    Deterministic and cross-engine reproducible: ``u`` is the first 52
    md5 bits (+1, so u ∈ (0, 2⁵²] maps into (0, 1]) — the same
    md5-derived arithmetic an ANSI SQL oracle computes bit-for-bit;
    the only float divergence is ``ln``'s last ulp, which can flip the
    k-th/k+1-th boundary only on a measure-zero score tie (same
    exposure class as the promoted quantile sketch, fixture-checked).
    Rows with NULL or non-positive weight are excluded — they have no
    well-defined inclusion probability.

    Scale shape: the score is a codegen'd scan-stage expression and
    the selection is a global ``orderBy().limit(k)`` —
    TakeOrderedAndProject, i.e. per-partition top-k then a k-row
    driver merge, never a full sort (pinned in tests/test_plans.py)."""
    w = (
        F.col(weight_col) if isinstance(weight_col, str) else weight_col
    ).cast("double")
    u52 = F.conv(
        F.substring(
            F.md5(F.concat(F.col(key_col).cast("string"), F.lit("#42"))),
            1, 13,
        ),
        16, 10,
    ).cast("double")
    u = (u52 + F.lit(1.0)) / F.lit(float(1 << 52))
    score = -F.log(u) / w
    return (
        df.filter(w > 0)
        .withColumn("__score__", score)
        .orderBy(F.col("__score__").asc(), F.col(key_col).asc())
        .limit(k)
        .drop("__score__")
    )
