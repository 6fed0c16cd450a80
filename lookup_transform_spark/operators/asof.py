"""As-of and range lookups (SURVEY.md §2.2 B19) — the only non-equi plans.

``asof_join`` uses the union-sort trick rather than a range join: tag
left/right rows, sort once per key by (ts, tag), and carry the latest
right-side values forward with ``last(ignorenulls)``. One shuffle on the
key, zero row explosion — this is the formulation that survives 100 TB,
unlike ``join(l.ts >= r.ts)`` + windowed dedup, which materializes every
(left, earlier-right) pair before pruning.

Tie semantics match DuckDB's ``ASOF JOIN`` (and the usual definition):
a right row with ts equal to the left ts IS visible (>=), implemented by
sorting right rows (tag 0) before left rows (tag 1) at equal ts.

Multi-value atomicity: all ``value_fields`` are packed into ONE struct
and carried by a single ``last(ignorenulls=True)`` — the output is always
the fields of exactly one right row (or all-null). Carrying each field
independently would silently back-fill a NULL field from an *older*
right row, mixing fields across rows. Duplicate ``right_ts`` within a
key is broken deterministically: the largest packed struct (field-wise
struct ordering) wins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from lookup_transform_spark.sqltext import ddl, sql_string


def _ts_numeric(col, dt: T.DataType, what: str):
    """Microsecond (or column-unit) numeric form of a ts column for the
    tolerance/nearest arithmetic. TIMESTAMP → epoch micros; integral
    types pass through (tolerance is then in the column's own units —
    the only meaning a bare numeric ts has). Anything else is refused
    loudly rather than failing analysis inside unix_micros."""
    if isinstance(dt, T.TimestampType):
        return F.unix_micros(col)
    if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        return col.cast("long")
    raise TypeError(
        f"{what}: tolerance/nearest need a TIMESTAMP or integral ts "
        f"column, got {dt.simpleString()}"
    )


def _orderable(dt: T.DataType) -> bool:
    """Struct ordering (the tiebreak) needs every field orderable; maps
    are the one common non-orderable type."""
    if isinstance(dt, T.MapType):
        return False
    if isinstance(dt, T.ArrayType):
        return _orderable(dt.elementType)
    if isinstance(dt, T.StructType):
        return all(_orderable(f.dataType) for f in dt.fields)
    return True


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: list[str] | str,
    left_ts: str,
    right_ts: str,
    value_fields: list[str],
    suffix: str = "",
    direction: str = "backward",
    tolerance_us: int | None = None,
) -> DataFrame:
    """left LEFT ASOF JOIN right: for each left row, the right row with
    the greatest right_ts <= left_ts (``direction="backward"``, the
    default — DuckDB's ``ON l.ts >= r.ts``, pandas merge_asof default)
    or the smallest right_ts >= left_ts (``direction="forward"`` —
    DuckDB's ``ON l.ts <= r.ts``) within the same key group. Both
    directions are the same single-shuffle union-sort plan; forward just
    sorts the per-key pass descending so ``last(ignorenulls)`` carries
    the nearest LATER right row instead.

    ``tolerance_us`` (pandas merge_asof ``tolerance``): a match farther
    than this many microseconds from the left ts is nulled out — a
    post-mask on the carried match, so the plan is unchanged and the
    semantics stay left-outer (the row survives with null values).

    Returns all left columns + ``value_fields`` (renamed with ``suffix``),
    nullable (no matching right row → null, left-outer semantics).

    NULL timestamps never match (DuckDB ASOF / pandas merge_asof
    semantics): a right row with NULL right_ts is invisible, and a left
    row with NULL left_ts keeps its left-outer shape with null values.
    """
    for v in value_fields:
        if v + suffix in left.columns:
            raise ValueError(
                f"asof_join output column {v + suffix!r} collides with a "
                "left column; pass a suffix"
            )
    if tolerance_us is not None:
        if tolerance_us < 0:
            raise ValueError(f"tolerance_us must be >= 0, got {tolerance_us}")
        if direction == "nearest":
            return _asof_nearest(
                left, right, on, left_ts, right_ts, value_fields, suffix,
                tolerance_us=tolerance_us,
            )
        ts_f = "__tol_ts__"
        r2 = right.withColumn(ts_f, F.col(right_ts))
        out = asof_join(
            left, r2, on, left_ts, right_ts,
            [ts_f] + value_fields, suffix, direction,
        )
        delta = F.abs(
            _ts_numeric(
                F.col(left_ts), left.schema[left_ts].dataType, "left_ts"
            )
            - _ts_numeric(
                F.col(ts_f + suffix), right.schema[right_ts].dataType,
                "right_ts",
            )
        )
        within = delta <= F.lit(tolerance_us)
        return out.select(
            *[F.col(c) for c in left.columns],
            *[
                F.when(within, F.col(v + suffix)).alias(v + suffix)
                for v in value_fields
            ],
        )
    if direction == "nearest":
        return _asof_nearest(
            left, right, on, left_ts, right_ts, value_fields, suffix
        )
    if direction not in ("backward", "forward"):
        raise ValueError(
            "direction must be 'backward', 'forward', or 'nearest', "
            f"got {direction!r}"
        )
    keys = [on] if isinstance(on, str) else list(on)
    out_names = [v + suffix for v in value_fields]

    # Every multi-column projection below is built as SQL STRINGS and
    # issued through one selectExpr — the Column-by-Column form cost
    # ~700 py4j round-trips per asof_join (~0.2 s of pure socket
    # latency per PLAN BUILD, ×3 for nearest; FLOOR_PROFILE.json's
    # plan-build finding). The parsed trees are identical, so results
    # are unchanged (oracle-verified on all six asof/range queries).
    packed_type = T.StructType(
        [T.StructField(o, right.schema[v].dataType, True)
         for v, o in zip(value_fields, out_names)]
    )
    packed_ddl = ddl(packed_type)
    lcols = [f"`{c}`" for c in left.columns]
    left_tagged = left.selectExpr(
        *lcols,
        f"`{left_ts}` AS __ts__",
        "1 AS __tag__",
        f"CAST(NULL AS {packed_ddl}) AS __v__",
    )
    # NULL right_ts rows can never be "at or before/after" any left ts —
    # unfiltered they sort NULLS-FIRST (asc) ahead of every real row and
    # their NON-null packed struct would be carried as a bogus match
    # NULL join KEYS never match either (r8 review): the window's
    # partitionBy groups NULL keys into ONE partition, so unfiltered, a
    # NULL-key left row would pick up carries from NULL-key right rows —
    # but the equi-join ON clause this operator mirrors (DuckDB ASOF,
    # pandas merge_asof) treats NULL = NULL as no match. Right rows with
    # any NULL key are invisible; left rows with any NULL key are masked
    # to the no-match shape below.
    keys_ok_sql = " AND ".join(f"`{k}` IS NOT NULL" for k in keys)
    left_schema = left.schema
    packed_fields = ", ".join(
        f"{sql_string(o)}, `{v}`" for v, o in zip(value_fields, out_names)
    )
    right_tagged = right.filter(
        f"`{right_ts}` IS NOT NULL AND {keys_ok_sql}"
    ).selectExpr(
        *[
            f"`{c}`"
            if c in keys
            else f"CAST(NULL AS {ddl(left_schema[c].dataType)}) AS `{c}`"
            for c in left.columns
        ],
        f"`{right_ts}` AS __ts__",
        "0 AS __tag__",
        f"named_struct({packed_fields}) AS __v__",
    )

    unioned = left_tagged.unionByName(right_tagged)
    # Tiebreak: among right rows sharing (key, ts), the largest packed
    # struct sorts last and therefore wins last(); left rows all carry a
    # null struct so their relative order is immaterial. Skipped (order
    # left arbitrary, as in DuckDB) when a value field is non-orderable.
    # SQL default null ordering matches the Column API: ASC = NULLS
    # FIRST, DESC = NULLS LAST.
    order_sql = "__ts__ ASC" if direction == "backward" else "__ts__ DESC"
    order_sql += ", __tag__ ASC"
    if _orderable(packed_type):
        order_sql += ", __v__ ASC NULLS FIRST"
    over = (
        f"OVER (PARTITION BY {', '.join(f'`{k}`' for k in keys)} "
        f"ORDER BY {order_sql} "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
    )
    carried = unioned.selectExpr(
        *lcols,
        "__tag__",
        f"last(__v__, true) {over} AS __v__",
    )
    # a left row with NULL left_ts has no position on the axis: in the
    # forward (desc) pass it would sort NULLS-LAST behind every right
    # row and pick up a bogus carry — mask it to the no-match shape
    # (backward gets this for free from NULLS-FIRST, masked anyway for
    # symmetry). A NULL join key masks the same way — right null-key
    # rows are already filtered above, so the mask is belt-and-braces
    # for the equi-join never-match contract.
    matchable_sql = f"(`{left_ts}` IS NOT NULL AND {keys_ok_sql})"
    return carried.filter("__tag__ = 1").selectExpr(
        *lcols,
        *[
            f"CASE WHEN {matchable_sql} THEN __v__.`{o}` END AS `{o}`"
            for o in out_names
        ],
    )


def _asof_nearest(
    left: DataFrame,
    right: DataFrame,
    on: list[str] | str,
    left_ts: str,
    right_ts: str,
    value_fields: list[str],
    suffix: str,
    tolerance_us: int | None = None,
) -> DataFrame:
    """direction="nearest": the right row minimizing |right_ts −
    left_ts|, ties broken toward BACKWARD (the at-or-before row) — the
    scalar tie key is ``2·|Δt| + direction_flag``, which the oracle
    mirrors as a ``min_by`` key. Composed from one backward and one
    forward pass (each the single-shuffle union-sort plan), then a
    per-row pick — no extra shuffles beyond the two passes."""
    ts_f = "__match_ts__"
    r2 = right.withColumn(ts_f, F.col(right_ts))
    b = asof_join(
        left, r2, on, left_ts, right_ts,
        [ts_f] + value_fields, suffix="__b__", direction="backward",
    )
    f = asof_join(
        b, r2, on, left_ts, right_ts,
        [ts_f] + value_fields, suffix="__f__", direction="forward",
    )
    rt_dt = right.schema[right_ts].dataType
    lt = _ts_numeric(F.col(left_ts), left.schema[left_ts].dataType, "left_ts")
    d_b = lt - _ts_numeric(F.col(ts_f + "__b__"), rt_dt, "right_ts")
    d_f = _ts_numeric(F.col(ts_f + "__f__"), rt_dt, "right_ts") - lt
    # never NULL: isNull/isNotNull are non-null booleans and
    # (false & null) = false, so no when/otherwise re-encoding is needed
    use_b = F.col(ts_f + "__f__").isNull() | (
        F.col(ts_f + "__b__").isNotNull() & (d_b <= d_f)
    )
    if tolerance_us is not None:
        chosen_delta = F.when(use_b, d_b).otherwise(d_f)
        keep = chosen_delta <= F.lit(tolerance_us)
    else:
        keep = F.lit(True)
    return f.select(
        *[F.col(c) for c in left.columns],
        *[
            F.when(
                keep,
                F.when(use_b, F.col(v + "__b__"))
                .otherwise(F.col(v + "__f__")),
            ).alias(v + suffix)
            for v in value_fields
        ],
    )


def range_join(
    input_df: DataFrame,
    bands: "DataFrame | list[dict]",
    value_col: str,
    lo_col: str,
    hi_col: str,
    band_fields: list[str],
) -> DataFrame:
    """Half-open range lookup, left-join shaped: input.value ∈
    [band.lo, band.hi) attaches that band's fields, and a value in no
    band keeps its row with NULL fields.

    ``bands`` may be a DataFrame or a plain list of dicts (keys
    ``lo_col``/``hi_col``/each band field) — the literal form compiles
    with zero Spark jobs, which matters when the banding is defined in
    application code rather than stored as a table.

    The band table is collected (a dimension by construction — if it
    doesn't fit on the driver it isn't a banding) and compiled into a
    chained CASE expression — a pure projection, whole-stage codegen,
    zero join. First matching band wins, so bands must be disjoint
    (asserted).
    """
    if isinstance(bands, list):
        rows = list(bands)
    else:
        rows = [r.asDict() for r in
                bands.select(lo_col, hi_col, *band_fields).collect()]
    rows.sort(key=lambda r: r[lo_col])
    for prev, cur in zip(rows, rows[1:]):
        if cur[lo_col] < prev[hi_col]:
            raise ValueError("range_join requires disjoint bands")
    v = input_df[value_col]
    outs = []
    for b in band_fields:
        expr = None
        for r in rows:
            clause = (v >= F.lit(r[lo_col])) & (v < F.lit(r[hi_col]))
            expr = (
                F.when(clause, F.lit(r[b]))
                if expr is None
                else expr.when(clause, F.lit(r[b]))
            )
        # no bands at all → every field is a typeless null and the
        # left shape survives
        outs.append((F.lit(None) if expr is None else expr).alias(b))
    return input_df.select(*[input_df[c] for c in input_df.columns], *outs)
