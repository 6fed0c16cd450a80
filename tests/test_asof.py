"""asof_join multi-value semantics: atomic struct carry + deterministic
duplicate-right_ts tiebreak (SURVEY.md §2.2 B19).

The hazard pinned here: carrying each value field with its own
last(ignorenulls=True) back-fills a NULL field from an OLDER right row —
output mixes fields across right rows and replaces genuine NULLs with
stale values (diverges from DuckDB ASOF JOIN). The struct-packed carry
must return exactly the matched row's fields, NULLs included.
"""

from lookup_transform_spark.operators.asof import asof_join


def _rows(df):
    return sorted((tuple(r) for r in df.collect()), key=repr)


def test_multi_value_null_field_not_backfilled(spark):
    # key 1: right row at ts=10 has b='old'; matched row at ts=20 has b=NULL.
    # A per-field carry would emit (2.0, 'old'); correct output is (2.0, None).
    left = spark.createDataFrame([(1, 30)], "k long, ts long")
    right = spark.createDataFrame(
        [(1, 10, 1.0, "old"), (1, 20, 2.0, None)],
        "k long, ts long, a double, b string",
    )
    out = asof_join(
        left, right, on="k", left_ts="ts", right_ts="ts",
        value_fields=["a", "b"],
    )
    assert _rows(out) == [(1, 30, 2.0, None)]


def test_multi_value_all_fields_from_one_row(spark):
    # Interleaved NULLs in both fields: each left row must get BOTH fields
    # from the single matched right row, never a column-wise mix.
    left = spark.createDataFrame(
        [(1, 15), (1, 25), (1, 35)], "k long, ts long"
    )
    right = spark.createDataFrame(
        [(1, 10, None, "x"), (1, 20, 2.0, None), (1, 30, None, None)],
        "k long, ts long, a double, b string",
    )
    out = asof_join(
        left, right, on="k", left_ts="ts", right_ts="ts",
        value_fields=["a", "b"],
    )
    assert _rows(out) == [
        (1, 15, None, "x"),
        (1, 25, 2.0, None),
        (1, 35, None, None),
    ]


def test_no_match_is_all_null(spark):
    left = spark.createDataFrame([(7, 5)], "k long, ts long")
    right = spark.createDataFrame(
        [(7, 10, 1.0, "late")], "k long, ts long, a double, b string"
    )
    out = asof_join(
        left, right, on="k", left_ts="ts", right_ts="ts",
        value_fields=["a", "b"],
    )
    assert _rows(out) == [(7, 5, None, None)]


def test_duplicate_right_ts_deterministic(spark):
    # Three right rows tie at ts=10. The largest packed struct must win,
    # atomically — (3.0, 'w3') — on every run and partitioning.
    left = spark.createDataFrame([(1, 10), (1, 99)], "k long, ts long")
    dup = [(1, 10, 1.0, "w1"), (1, 10, 3.0, "w3"), (1, 10, 2.0, "w2")]
    for nparts in (1, 3):
        right = spark.createDataFrame(
            dup, "k long, ts long, a double, b string"
        ).repartition(nparts)
        out = asof_join(
            left, right, on="k", left_ts="ts", right_ts="ts",
            value_fields=["a", "b"],
        )
        assert _rows(out) == [(1, 10, 3.0, "w3"), (1, 99, 3.0, "w3")]


def test_equal_ts_right_row_visible(spark):
    # >= semantics: a right row at exactly left_ts matches (DuckDB parity).
    left = spark.createDataFrame([(1, 10)], "k long, ts long")
    right = spark.createDataFrame(
        [(1, 10, 42.0, "eq")], "k long, ts long, a double, b string"
    )
    out = asof_join(
        left, right, on="k", left_ts="ts", right_ts="ts",
        value_fields=["a", "b"],
    )
    assert _rows(out) == [(1, 10, 42.0, "eq")]


def test_suffix_renames_packed_fields(spark):
    left = spark.createDataFrame([(1, 10)], "k long, ts long")
    right = spark.createDataFrame(
        [(1, 5, 1.0)], "k long, ts long, a double"
    )
    out = asof_join(
        left, right, on="k", left_ts="ts", right_ts="ts",
        value_fields=["a"], suffix="_asof",
    )
    assert out.columns == ["k", "ts", "a_asof"]
    assert _rows(out) == [(1, 10, 1.0)]


def test_spaced_value_field_name_parses(spark):
    # the packed struct's type is spliced into a CAST(NULL AS struct<...>)
    # string: a raw `my val` field name is a ParseException
    left = spark.createDataFrame([(1, 10), (1, 3)], "k long, ts long")
    right = spark.createDataFrame(
        [(1, 5, 1.0)], "k long, ts long, `my val` double"
    )
    out = asof_join(
        left, right, on="k", left_ts="ts", right_ts="ts",
        value_fields=["my val"],
    )
    assert out.columns == ["k", "ts", "my val"]
    assert _rows(out) == [(1, 10, 1.0), (1, 3, None)]


def test_quoted_value_field_name_parses(spark):
    # the packed struct's field names are spliced into
    # named_struct('<name>', ...) as string literals: a raw quote or
    # backslash in a name is a ParseException
    left = spark.createDataFrame([(1, 10), (1, 3)], "k long, ts long")
    right = spark.createDataFrame(
        [(1, 5, 1.0)], "k long, ts long, `o'v\\al` double"
    )
    out = asof_join(
        left, right, on="k", left_ts="ts", right_ts="ts",
        value_fields=["o'v\\al"],
    )
    assert out.columns == ["k", "ts", "o'v\\al"]
    assert _rows(out) == [(1, 10, 1.0), (1, 3, None)]


def test_asof_directions_match_brute_force(spark):
    """backward/forward/nearest against a per-row brute-force pick on a
    toy fixture with both-side candidates, ties, and misses."""
    from pyspark.sql import functions as F

    from lookup_transform_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, 1, 50), (2, 1, 10), (3, 2, 100), (4, 3, 7)],
        "id long, k long, ts long",
    ).select("id", "k", F.timestamp_micros(F.col("ts")).alias("ts"))
    right = spark.createDataFrame(
        # k=1: candidates straddling both lefts; k=2: exact-tie distance
        # (95 and 105 around 100 -> backward wins); k=3: no rows
        [(1, 40, 4.0), (1, 55, 5.5), (1, 8, 0.8),
         (2, 95, 9.5), (2, 105, 10.5)],
        "k long, ts long, v double",
    ).select("k", F.timestamp_micros(F.col("ts")).alias("ts"), "v")

    def got(direction):
        out = asof_join(
            left, right, on="k", left_ts="ts", right_ts="ts",
            value_fields=["v"], direction=direction,
        )
        return {r["id"]: r["v"] for r in out.collect()}

    assert got("backward") == {1: 4.0, 2: 0.8, 3: 9.5, 4: None}
    assert got("forward") == {1: 5.5, 2: 4.0, 3: 10.5, 4: None}
    # nearest: id1 |50-55|=5 vs |50-40|=10 -> 5.5; id2 8 closest; id3
    # tie (5 vs 5) -> backward 9.5; id4 no candidates
    assert got("nearest") == {1: 5.5, 2: 0.8, 3: 9.5, 4: None}


def test_asof_tolerance_masks_stale_matches(spark):
    from pyspark.sql import functions as F

    from lookup_transform_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, 1, 100), (2, 1, 1000)], "id long, k long, ts long"
    ).select("id", "k", F.timestamp_micros(F.col("ts")).alias("ts"))
    right = spark.createDataFrame(
        [(1, 95, 9.5)], "k long, ts long, v double"
    ).select("k", F.timestamp_micros(F.col("ts")).alias("ts"), "v")
    out = asof_join(
        left, right, on="k", left_ts="ts", right_ts="ts",
        value_fields=["v"], tolerance_us=10,
    )
    got = {r["id"]: r["v"] for r in out.collect()}
    assert got == {1: 9.5, 2: None}  # 5µs within; 905µs masked


def test_asof_multi_key_groups_independent(spark):
    # composite key (k1,k2): matches must never leak across key groups
    left = spark.createDataFrame(
        [(1, 1, "x", 100), (2, 1, "y", 100), (3, 2, "x", 100)],
        "id long, k1 long, k2 string, ts long",
    )
    right = spark.createDataFrame(
        [(1, "x", 90, 1.0), (1, "y", 95, 2.0), (2, "z", 99, 9.0)],
        "k1 long, k2 string, ts long, v double",
    )
    out = asof_join(
        left, right, on=["k1", "k2"], left_ts="ts", right_ts="ts",
        value_fields=["v"],
    )
    got = {r["id"]: r["v"] for r in out.collect()}
    assert got == {1: 1.0, 2: 2.0, 3: None}


def test_asof_nearest_tolerance(spark):
    from pyspark.sql import functions as F

    from lookup_transform_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, 1, 100), (2, 1, 5000)], "id long, k long, ts long"
    ).select("id", "k", F.timestamp_micros(F.col("ts")).alias("ts"))
    right = spark.createDataFrame(
        [(1, 103, 1.3), (1, 4000, 4.0)], "k long, ts long, v double"
    ).select("k", F.timestamp_micros(F.col("ts")).alias("ts"), "v")
    out = asof_join(
        left, right, on="k", left_ts="ts", right_ts="ts",
        value_fields=["v"], direction="nearest", tolerance_us=10,
    )
    got = {r["id"]: r["v"] for r in out.collect()}
    # id1: nearest is 103 (3µs) within tol; id2: nearest is 4000 (1000µs) masked
    assert got == {1: 1.3, 2: None}


def test_asof_negative_tolerance_rejected_all_directions(spark):
    # a negative tolerance must raise, not silently null every match
    # (the nearest branch used to dispatch before the validation)
    import pytest as _pytest

    from lookup_transform_spark.operators.asof import asof_join

    left = spark.createDataFrame([(1, 1, 100)], "id long, k long, ts long")
    right = spark.createDataFrame([(1, 95, 9.5)], "k long, ts long, v double")
    for direction in ("backward", "forward", "nearest"):
        with _pytest.raises(ValueError, match="tolerance_us"):
            asof_join(
                left, right, on="k", left_ts="ts", right_ts="ts",
                value_fields=["v"], direction=direction, tolerance_us=-1,
            )


def test_null_timestamps_never_match(spark):
    """r8 review: NULL timestamps must behave like DuckDB ASOF / pandas
    merge_asof — a right row with NULL right_ts is invisible (it used
    to sort NULLS-FIRST with a NON-null packed struct and get carried
    as a bogus match), and a left row with NULL left_ts keeps its
    left-outer shape with null values in BOTH directions (forward's
    desc sort used to park it behind every right row)."""
    left = spark.createDataFrame([(1, 50), (1, None)], "k long, ts long")
    right = spark.createDataFrame(
        [(1, None, 99.0), (1, 100, 5.0), (1, 10, 1.0)],
        "k long, ts long, v double",
    )
    back = asof_join(
        left, right, on="k", left_ts="ts", right_ts="ts",
        value_fields=["v"],
    )
    assert _rows(back) == [(1, 50, 1.0), (1, None, None)]
    fwd = asof_join(
        left, right, on="k", left_ts="ts", right_ts="ts",
        value_fields=["v"], direction="forward",
    )
    assert _rows(fwd) == [(1, 50, 5.0), (1, None, None)]
    near = asof_join(
        left, right, on="k", left_ts="ts", right_ts="ts",
        value_fields=["v"], direction="nearest",
    )
    # |50-10| = 40 beats |100-50| = 50 -> the backward row wins
    assert _rows(near) == [(1, 50, 1.0), (1, None, None)]


def test_null_join_keys_never_match(spark):
    """r8 review: Window.partitionBy groups NULL keys into ONE
    partition, so a NULL-key left row used to pick up carries from
    NULL-key right rows — but the equi-join ON clause this operator
    mirrors (DuckDB ASOF, pandas merge_asof) treats NULL = NULL as no
    match. NULL-key right rows must be invisible and NULL-key left rows
    keep the left-outer null shape, in every direction."""
    left = spark.createDataFrame(
        [(None, 50), (1, 50)], "k long, ts long"
    )
    right = spark.createDataFrame(
        [(None, 10, 111.0), (1, 10, 1.0)], "k long, ts long, v double"
    )
    for direction, want_k1 in (("backward", 1.0), ("forward", None),
                               ("nearest", 1.0)):
        out = asof_join(
            left, right, on="k", left_ts="ts", right_ts="ts",
            value_fields=["v"], direction=direction,
        )
        got = sorted(((r["k"], r["ts"], r["v"]) for r in out.collect()),
                     key=repr)
        assert got == sorted([(None, 50, None), (1, 50, want_k1)], key=repr)


def test_tolerance_and_nearest_work_on_integral_ts(spark):
    """r8 review: tolerance/nearest used to hard-require TIMESTAMP
    columns (unix_micros) while backward/forward accepted any orderable
    type. Integral ts columns now work — tolerance is then in the
    column's own units."""
    left = spark.createDataFrame([(1, 100), (1, 500)], "k long, ts long")
    right = spark.createDataFrame(
        [(1, 90, 1.0), (1, 130, 2.0)], "k long, ts long, v double"
    )
    out = asof_join(
        left, right, on="k", left_ts="ts", right_ts="ts",
        value_fields=["v"], tolerance_us=50,
    )
    # 100: backward match at 90 (delta 10 <= 50); 500: match at 130 is
    # 370 away -> masked to null, row survives (left-outer)
    assert _rows(out) == [(1, 100, 1.0), (1, 500, None)]


def test_value_field_collision_with_left_column_refused(spark):
    import pytest as _pytest

    left = spark.createDataFrame([(1, 10, 0.0)], "k long, ts long, v double")
    right = spark.createDataFrame([(1, 5, 1.0)], "k long, ts long, v double")
    with _pytest.raises(ValueError, match="collides"):
        asof_join(
            left, right, on="k", left_ts="ts", right_ts="ts",
            value_fields=["v"],
        )
    out = asof_join(  # a suffix resolves it
        left, right, on="k", left_ts="ts", right_ts="ts",
        value_fields=["v"], suffix="_r",
    )
    assert _rows(out) == [(1, 10, 0.0, 1.0)]


def test_range_join_case_edge_semantics(spark):
    """r8 review pins for the CASE compilation: (a) a matching band
    whose payload is NULL and a value in no band both keep their row
    with a NULL payload; (b) an empty band table yields all-null
    payloads instead of crashing."""
    from lookup_transform_spark.operators.asof import range_join

    df = spark.createDataFrame([(10,), (75,), (200,)], "value long")
    bands = [
        {"lo": 0, "hi": 50, "band": None},   # matching but null payload
        {"lo": 50, "hi": 100, "band": "mid"},
    ]
    left = range_join(df, bands, "value", "lo", "hi", ["band"])
    assert _rows(left) == [(10, None), (200, None), (75, "mid")]

    empty_left = range_join(df, [], "value", "lo", "hi", ["band"])
    assert _rows(empty_left) == [(10, None), (200, None), (75, None)]


def test_salted_join_validates_invariance_breakers(spark):
    """r8 review: salting explodes the right side xS, so right-
    preserving joins emit spurious null-padded copies — refuse them,
    and refuse degenerate salt counts, instead of silently returning
    wrong shapes."""
    import pytest as _pytest

    from lookup_transform_spark.operators.skew import salted_join

    left = spark.createDataFrame([(1, 100)], "k long, id long")
    right = spark.createDataFrame([(1, 5.0)], "k long, v double")
    with _pytest.raises(ValueError, match="result-invariant"):
        salted_join(left, right, "k", "k", how="full", salt_source="id")
    with _pytest.raises(ValueError, match="salt"):
        salted_join(left, right, "k", "k", salt=0, salt_source="id")
    ok = salted_join(left, right, "k", "k", salt=4, salt_source="id")
    assert _rows(ok) == [(1, 100, 5.0)]
