"""Session conf has one writer (``session.set_confs``) and one scope
(``session.scoped_confs``). These tests pin what that buys: the size
regime is re-asserted on every registry query whatever was written in
between, and every scoped override leaves the session as it found it.

The ``spark`` fixture is session-scoped, so every conf a test here
touches is itself restored through ``scoped_confs``.
"""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from lookup_transform_spark import registry, scale_profile
from lookup_transform_spark.session import scoped_confs

SF = "/root/testdata/sf0.001"
SHUFFLE = "spark.sql.shuffle.partitions"
AQE = "spark.sql.adaptive.enabled"
NANOS = "spark.sql.legacy.parquet.nanosAsLong"


def _current(spark, *keys: str) -> dict[str, str]:
    return {k: spark.conf.get(k) for k in keys}


def test_registry_query_reasserts_regime_after_direct_write(spark):
    assert scale_profile.profile_for(SF) == "small"
    with scoped_confs(spark, _current(spark, SHUFFLE, AQE)):
        registry.QUERIES["lookup"](spark, SF)
        assert _current(spark, SHUFFLE, AQE) == {SHUFFLE: "8", AQE: "false"}
        # a write the regime gate did not make: the next query must
        # write its regime over it
        spark.conf.set(SHUFFLE, "3")
        registry.QUERIES["lookup"](spark, SF)
        assert spark.conf.get(SHUFFLE) == "8"


@pytest.mark.parametrize("raises", [False, True])
def test_scoped_confs_restores_set_and_unset_keys(spark, raises):
    unset_key = "spark.lookup_transform_spark.test.scopedProbe"
    assert spark.conf.get(unset_key, None) is None
    before = spark.conf.get(SHUFFLE)
    assert before != "5"

    def body():
        with scoped_confs(spark, {SHUFFLE: "5", unset_key: "on"}):
            assert _current(spark, SHUFFLE, unset_key) == {
                SHUFFLE: "5", unset_key: "on",
            }
            if raises:
                raise RuntimeError("body failed")

    if raises:
        with pytest.raises(RuntimeError, match="body failed"):
            body()
    else:
        body()
    assert spark.conf.get(SHUFFLE) == before
    assert spark.conf.get(unset_key, None) is None


def test_streaming_scopes_leave_shuffle_width_as_found(spark, tmp_path):
    from lookup_transform_spark.streaming.lookup_stream import (
        read_events_stream,
        run_to_memory,
    )
    from lookup_transform_spark.streaming.sketch_rollup import (
        stream_sketch_rollup,
    )

    with scoped_confs(spark, {SHUFFLE: "3"}):
        ev = read_events_stream(spark, SF).groupBy("user_id").count()
        got = run_to_memory(
            ev, "t_conf_scope", output_mode="complete", state_partitions=2
        )
        assert got.count() > 0
        assert spark.conf.get(SHUFFLE) == "3"
        stream_sketch_rollup(spark, SF, str(tmp_path / "sketch"), n_files=2)
        assert spark.conf.get(SHUFFLE) == "3"


def test_events_readers_accept_ns_parquet_on_a_plain_session(spark, tmp_path):
    """The driver contract hands the registry a session ``get_spark``
    did not build, so the events readers assert ``nanosAsLong``
    themselves: Spark 4 refuses ns-precision parquet without it."""
    from lookup_transform_spark.streaming.lookup_stream import (
        read_events_stream,
    )

    ns = [1_700_000_000_123_456_789, 1_700_000_001_000_000_999]
    pq.write_table(
        pa.table({
            "event_id": pa.array([1, 2], pa.int64()),
            "ts": pa.array(ns, pa.timestamp("ns")),
        }),
        str(tmp_path / "events.parquet"),
    )
    with scoped_confs(spark, {NANOS: "false"}):
        ev = registry._events(spark, str(tmp_path))
        got = sorted(
            r[0] for r in ev.selectExpr("unix_micros(ts)").collect()
        )
        assert got == [v // 1000 for v in ns]
        spark.conf.set(NANOS, "false")
        assert dict(read_events_stream(spark, str(tmp_path)).dtypes)[
            "ts"
        ] == "timestamp"
