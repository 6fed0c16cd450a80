"""Input-size-gated session profile: small fixtures drop the AQE/shuffle
machinery they cannot amortize; at-scale inputs keep it.

Why (FLOOR_PROFILE.json, r10): at bench scale (sf0.1 = 17 MB on disk)
the per-query floor is dominated by stage scheduling, not data — a noop
round-trip is ~50 ms and one scan stage ~120 ms. AQE adds a stage
boundary + re-planning pass per shuffle, and 32 shuffle partitions mean
32 near-empty tasks per exchange. The measured A/B over the 10-query
floor sample (7 repeats, min): base 6.58 s, ``aqe_off_shuffle8``
5.63 s (−14%), the best of every profile tried. At 32×+ scale the same
settings would be wrong — AQE's coalescing/skew-splitting and a
CPU-matched partition count are the scale story (ULTRASCALE.json shows
AQE skew-join engaging at 512×).

So the knob is gated on INPUT SIZE, the same way a warehouse picks a
plan regime from table statistics, not on "bench mode": callers (the
registry's query wrapper) pass the fixture dir; below
``SMALL_INPUT_MAX_BYTES`` (default 64 MB — sf0.1 is 17 MB, the 32×
derived fixture is 486 MB, so the gate cleanly separates correctness/
bench scale from every scaling probe) the session gets the small-input
profile, above it the standard one. On a real cluster no input ever
sits under the gate and this module is a no-op.

Runtime-settable confs only, written through ``session.set_confs`` on
EVERY registry query, so the profile works on ANY session — including
the driver's plain correctness session — flips back when the same
session later touches an at-scale dir, and re-asserts itself after any
direct conf write in between. The write is sticky, not scoped: a query
function returns a lazy DataFrame, and the regime must still be live
when the caller drains it. The write is two py4j calls per query, far
below the smallest query's wall.
"""

from __future__ import annotations

import os

from lookup_transform_spark.session import set_confs

SMALL_INPUT_MAX_BYTES = int(
    os.environ.get("SPARK_GRAFT_SMALL_INPUT_MAX_BYTES", str(64 << 20))
)

# fixture dirs are generated once per round and never mutate mid-process
# (the registry's staleness gates handle the regenerated-fixture case by
# mtime, which doesn't change a dir's size class) — cache the walk
_dir_bytes: dict[str, int] = {}

# the measured floor winner: one wave of 8 shuffle tasks, no adaptive
# re-planning stage boundaries
SMALL = {
    "spark.sql.shuffle.partitions": "8",
    "spark.sql.adaptive.enabled": "false",
}
# AQE plus a CPU-matched shuffle width: the scale regime
FULL = {
    "spark.sql.shuffle.partitions": os.environ.get("SPARK_GRAFT_CPUS", "32"),
    "spark.sql.adaptive.enabled": "true",
}


def fixture_bytes(sf_dir: str) -> int:
    """Total on-disk bytes under ``sf_dir`` (recursive), cached."""
    norm = os.path.abspath(sf_dir)
    total = _dir_bytes.get(norm)
    if total is None:
        total = 0
        for root, _dirs, files in os.walk(norm):
            for f in files:
                try:
                    total += os.path.getsize(os.path.join(root, f))
                except OSError:
                    pass
        _dir_bytes[norm] = total
    return total


def profile_for(sf_dir: str) -> str:
    return (
        "small" if fixture_bytes(sf_dir) < SMALL_INPUT_MAX_BYTES else "full"
    )


def apply_scale_profile(spark, sf_dir: str) -> None:
    """Write the size-matched regime for queries over ``sf_dir`` into
    ``spark`` (sticky; see the module docstring)."""
    set_confs(spark, SMALL if profile_for(sf_dir) == "small" else FULL)
