"""merge_cubes — the reference's most intricate operator
(``openeo_odc_driver.py:1134-1291``, ~160 LoC of case analysis).

Decision table (encoded in tests/test_merge.py):

1. same dims, **disjoint bands** → concat on band axis (:1204)
   ⇒ ``unionByName`` — no shuffle at all.
2. same dims & bands, **disjoint times** → concat on time (:1177)
   ⇒ ``unionByName``.
3. same dims & bands, **overlapping keys** → requires `overlap_resolver`
   (:1181-1188) ⇒ full-outer join on the grid key + resolver expression
   over (value1, value2); where only one side exists the resolver sees a
   NULL partner (xarray aligns with NaN fill).
4. **partially-common bands** → error, explicitly unsupported (:1198).
5. x,y-only cubes always need a resolver (:1260-1264).

Band disjointness is schema metadata (no job); time disjointness the
reference learns from in-memory coords. Here, in priority order: the
schemas' plan-time ``time_extent`` bounds (populated at load /
filter_temporal — comparing two [lo, hi] pairs costs nothing), the
plan-time ``time_axis`` sets, and only when neither decides, a
key-overlap probe (an O(distinct-times) action on two
aggregated scans). At 100 TB the extent path means merge_cubes builds
its plan with ZERO jobs in the common case.
"""

from __future__ import annotations

from typing import Callable, Optional

from pyspark.sql import Column, functions as F

from ..core.cube import BAND, TIME, VALUE, Cube


def merge_cubes(
    cube1: Cube,
    cube2: Cube,
    overlap_resolver: Optional[Callable[[Column, Column], Column]] = None,
) -> Cube:
    b1, b2 = set(cube1.schema.bands), set(cube2.schema.bands)
    e1, e2 = cube1.schema.time_extent, cube2.schema.time_extent
    merged_extent = (
        (min(e1[0], e2[0]), max(e1[1], e2[1]))
        if e1 is not None and e2 is not None
        else None
    )
    a1, a2 = cube1.schema.time_axis, cube2.schema.time_axis
    merged_axis = (
        tuple(sorted(set(a1) | set(a2)))
        if a1 is not None and a2 is not None
        else None
    )
    schema = (
        cube1.schema.with_bands(
            tuple(dict.fromkeys((*cube1.schema.bands, *cube2.schema.bands)))
        )
        .with_time_extent(merged_extent)
        .with_time_axis(merged_axis)
    )
    if set(cube1.schema.dims) != set(cube2.schema.dims):
        raise ValueError("merge_cubes: dimension mismatch")

    if b1 and b2 and b1.isdisjoint(b2):
        # case 1: band-axis concat = columnless union
        return Cube(cube1.df.unionByName(cube2.df), schema)

    if b1 != b2 and b1 & b2:
        # case 4: partially-common bands — unsupported in the reference too
        raise ValueError("merge_cubes: partially overlapping band sets unsupported")

    if overlap_resolver is None:
        if _times_disjoint(cube1, cube2):
            # case 2: time-axis concat
            return Cube(cube1.df.unionByName(cube2.df), schema)
        raise ValueError("merge_cubes: overlapping cubes need an overlap_resolver")

    # case 3/5: full-outer join + resolver
    keys = [d for d in cube1.key_dims if d in cube2.key_dims]
    left = cube1.df.withColumnRenamed(VALUE, "_v1")
    right = cube2.df.select(*keys, F.col(VALUE).alias("_v2"))
    out = (
        left.join(right, keys, "full_outer")
        .withColumn(VALUE, overlap_resolver(F.col("_v1"), F.col("_v2")))
        .drop("_v1", "_v2")
    )
    return Cube(out, schema)


def _times_disjoint(cube1: Cube, cube2: Cube) -> bool:
    if TIME not in cube1.schema.dims:
        return False
    # Plan-time fast path: non-overlapping extent bounds prove
    # disjointness without running a job. (A too-wide bound merely falls
    # through to the probe; extents are maintained as supersets, so a
    # "disjoint" answer here is always sound.)
    e1, e2 = cube1.schema.time_extent, cube2.schema.time_extent
    if e1 is not None and e2 is not None and (e1[1] < e2[0] or e2[1] < e1[0]):
        return True
    # Exact plan-time decision when both axes are known — resolves even
    # the interleaved-but-disjoint case (overlapping extents) with no job.
    a1, a2 = cube1.schema.time_axis, cube2.schema.time_axis
    if a1 is not None and a2 is not None:
        return not (set(a1) & set(a2))
    t1 = cube1.df.select(TIME).distinct()
    t2 = cube2.df.select(TIME).distinct()
    return t1.join(t2, TIME, "inner").limit(1).count() == 0
