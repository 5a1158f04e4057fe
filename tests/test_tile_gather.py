"""The tile tier's shared numpy stages: the fragment gather behind the
near snap, the window/edge retile and the bilinear regrid
(``core/tiled._gather_tiles``), its overlap lookup, and the median in
the shared time fold — each checked against its long-format twin."""
import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from openeo_odc_driver_spark.core import tiled as t
from openeo_odc_driver_spark.core.cube import Cube, CubeSchema, GridSpec
from openeo_odc_driver_spark.sources.synthetic import (
    DEFAULT_SPEC,
    synthetic_cube,
)


def _frames_equal(a_df, b_df):
    cols = sorted(a_df.columns)
    a = a_df.toPandas()[cols].sort_values(cols).reset_index(drop=True)
    b = b_df.toPandas()[cols].sort_values(cols).reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b, check_exact=True, check_dtype=False)
    return a


# --- the overlap lookup (no Spark) -------------------------------------------


def _random_maps(rng, kind: str):
    """Per-tile index maps of the three shapes the gather reads: a
    near winner map (strictly increasing with gaps), a window map
    (consecutive) and bilinear windows (ranges whose ends are
    nondecreasing and may overlap the next tile's)."""
    Tt = int(rng.integers(1, 7))
    n = int(rng.integers(1, 40))
    if kind == "near":
        idx = np.cumsum(rng.integers(1, 4, n)) + int(rng.integers(0, 5))
        return [idx[j:j + Tt] for j in range(0, n, Tt)]
    if kind == "window":
        off = int(rng.integers(0, 9))
        return [off + np.arange(j, min(j + Tt, n)) for j in range(0, n, Tt)]
    lo = np.sort(rng.integers(0, 3 * n, n))
    return [np.arange(lo[j], max(lo[min(j + Tt, n) - 1], lo[j]) + 2)
            for j in range(0, n, Tt)]


@pytest.mark.parametrize("kind", ["near", "window", "bilinear"])
def test_span_feeds_matches_brute_force_scan(kind):
    """The searchsorted lookup finds exactly the output tiles a source
    span feeds — the same set, offsets and local indices as scanning
    every tile's map — including tiles a span straddles and tiles
    whose indices skip a span."""
    rng = np.random.default_rng(12)
    for _ in range(200):
        maps = _random_maps(rng, kind)
        T = int(rng.integers(1, 9))
        feeds = t._span_feeds(maps, T)
        top = int(max(m[-1] for m in maps))
        for t0 in range(0, top + T + 1, T):
            want = []
            for R, m in enumerate(maps):
                pos = np.flatnonzero((m >= t0) & (m < t0 + T))
                if len(pos):
                    want.append((R, int(pos[0]), m[pos] - t0))
            got = feeds(t0)
            assert [(R, o) for R, o, _ in got] == [(R, o) for R, o, _ in want]
            for (_, _, a), (_, _, b) in zip(got, want):
                assert np.array_equal(a, b)


# --- the gather against the long twins ---------------------------------------


def _long_target(src, grid):
    return Cube(
        src.df,
        CubeSchema(bands=DEFAULT_SPEC.bands, crs="EPSG:32632", grid=grid),
    )


@pytest.mark.parametrize("grid,ts,tt", [
    # 10 m -> 15 m with the origin shifted by half a source cell
    (GridSpec(x0=5.0, y0=145.0, resx=15.0, resy=15.0), 5, 3),
    (GridSpec(x0=5.0, y0=145.0, resx=15.0, resy=15.0), 4, 7),
    # 10 m -> 25 m: winner maps with gaps of 2 and 3 pixels
    (GridSpec(x0=10.0, y0=140.0, resx=25.0, resy=25.0), 6, 4),
])
def test_near_gather_rational_shifted_new_edge(spark, grid, ts, tt):
    """The near snap at a rational factor, a shifted origin and an
    output edge different from the source edge equals the long snap."""
    from openeo_odc_driver_spark.operators.resample import (
        resample_cube_spatial,
    )

    src = synthetic_cube(spark)
    tgt = _long_target(src, grid)
    packed_tgt = t.TiledCube(src.df, tgt.schema, tt, 16, 16)
    tiled = t.resample_cube_spatial_tiled(
        t.to_tiled(src, tile=ts, n_y=16, n_x=16), packed_tgt
    )
    assert tiled.tile == tt
    _frames_equal(resample_cube_spatial(src, tgt).df,
                  t.from_tiled(tiled).df)


@pytest.mark.parametrize("ts,tt,row0,col0,n_y,n_x", [
    (4, 3, 5, 7, 9, 8),
    (5, 3, 7, 2, 8, 13),
    (3, 5, 1, 4, 14, 11),
])
def test_windowed_retile_new_edge_matches_long_window(
    spark, ts, tt, row0, col0, n_y, n_x
):
    """A window whose origin is a multiple of neither edge, repacked
    to a new edge, equals the long cube cut to that window (the
    re-anchored grid regenerates every coordinate exactly)."""
    src = synthetic_cube(spark)
    g = src.schema.grid
    grid = GridSpec(g.x0 + g.resx * col0, g.y0 - g.resy * row0,
                    g.resx, g.resy)
    out = t.retile(t.to_tiled(src, tile=ts, n_y=16, n_x=16), tt,
                   row0, col0, n_y, n_x, grid=grid)
    assert (out.tile, out.n_y, out.n_x) == (tt, n_y, n_x)
    xs = (g.x0 + g.resx * col0, g.x0 + g.resx * (col0 + n_x - 1))
    ys = (g.y0 - g.resy * (row0 + n_y - 1), g.y0 - g.resy * row0)
    want = src.df.where(F.col("x").between(*xs) & F.col("y").between(*ys))
    got = _frames_equal(want, t.from_tiled(out).df)
    assert len(got) == 3 * 24 * n_y * n_x


# --- median in the shared fold -----------------------------------------------


def _holed_cube(spark):
    """The synthetic cube with whole pixels NULL at every time step (on
    top of its scattered ~4% NULLs), so the folds see all-NULL
    positions as well as odd and even counts."""
    cube = synthetic_cube(spark)
    hole = ((F.col("x") / 10 + 3 * F.col("y") / 10) % 7) == 0
    return Cube(cube.df.withColumn(
        "value", F.when(hole, F.lit(None)).otherwise(F.col("value"))
    ), cube.schema)


@pytest.mark.parametrize("period", [None, "season"])
def test_median_fold_matches_long(spark, period):
    """Time and period median through ``_fold_groups`` at tile 5
    (partial tiles) equal the long reducers: NULL elements skipped,
    even counts interpolate, all-NULL positions stay NULL."""
    from openeo_odc_driver_spark.operators.aggregates import (
        aggregate_temporal_period,
    )
    from openeo_odc_driver_spark.operators.reducers import reduce_dimension

    cube = _holed_cube(spark)
    tc = t.to_tiled(cube, tile=5, n_y=16, n_x=16)
    if period is None:
        long_df = reduce_dimension(cube, "time", "median").df
        tiled = t.reduce_time_tiled(tc, "median")
    else:
        long_df = aggregate_temporal_period(cube, period, "median").df
        tiled = t.aggregate_temporal_period_tiled(tc, period, "median")
    got = _frames_equal(long_df, t.from_tiled(tiled).df)
    assert got["value"].isna().any()
