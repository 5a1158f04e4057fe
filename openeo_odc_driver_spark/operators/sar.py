"""SAR2Cube operators: radar_mask and geocode
(openeo_odc_driver.py:1426-1504, sar2cube/geocode.py:22-197).

``radar_mask`` computes layover / foreshortening / shadow masks from DEM
and LIA bands. The reference materializes the DEM as a numpy array and
does sliced finite differences; here the 3×3 stencil is **two window
passes** (lead over x within a row, then lead over y within a column —
the second pass also shifts the first pass's column, so the four corner
samples dem[y..y+2, x..x+2] meet on one row with no self-join and no
Python. Grid constants (tan heading, daz, drg) are driver-side query
constants.

Angle outputs are quantized to 9 decimals before thresholding: atan is
libm (1-ulp engine differences) and a mask bit must not depend on the
17th digit.

``geocode`` resamples an irregularly-gridded cube (per-pixel LON/LAT
layer bands, SAR geometry) onto a regular target grid. The reference
uses per-chunk Delaunay triangulation + linear interpolation (scipy);
scipy is not in this container, so the shipped mode is
**nearest-sample binning** (snap each sample's lon/lat to the target
cell, keep the minimum-distance sample) — the same retrieve shape at
scale (one groupBy, no pairwise work); `method="linear"` marks where
the scipy call goes.
"""

from __future__ import annotations

import math

from pyspark.sql import Window, functions as F

from ..core.cube import BAND, TIME, VALUE, X, Y, Cube

MASK_BANDS = ("layover", "foreshortening", "shadow")


def radar_mask(
    cube: Cube,
    foreshortening_th: float,
    layover_th: float,
    orbit_direction: str = "ASC",
) -> Cube:
    """Layover/foreshortening/shadow masks (openeo_odc_driver.py:1426-1504).

    Requires bands DEM and LIA. Returns a 3-band {0,1} cube named
    ``layover/foreshortening/shadow`` (the reference numbers them 1/2/3);
    border pixels (first row/col, last two rows/cols) are 0 as in the
    reference's zero-initialized output.
    """
    grid = cube.schema.grid
    if grid is None:
        raise ValueError("radar_mask needs a GridSpec")
    heading = math.radians(-12.5 if orbit_direction == "ASC" else 12.5)
    dx = grid.resx
    dy = -grid.resy  # reference takes y[1]-y[0] on descending coords
    dx_p = dx * math.tan(heading)
    dy_p = dy * math.tan(heading)
    daz = 2 * math.sqrt(dy_p ** 2 + dy ** 2)
    drg = 2 * math.sqrt(dx_p ** 2 + dx ** 2)
    rg_sign = -1.0 if heading >= 0 else 1.0

    group = [d for d in cube.key_dims if d not in (BAND, X, Y)]
    x_idx = ((F.col(X) - F.lit(grid.x0)) / F.lit(grid.resx)).cast("long")
    y_idx = ((F.lit(grid.y0) - F.col(Y)) / F.lit(grid.resy)).cast("long")
    dem = (
        cube.df.where(F.col(BAND) == "DEM")
        .select(*group, x_idx.alias("_xi"), y_idx.alias("_yi"), Y, X, VALUE)
    )
    # pass 1: east neighbors within a row
    wx = Window.partitionBy(*group, "_yi").orderBy("_xi")
    dem = dem.withColumn("_e2", F.lead(VALUE, 2).over(wx))
    # pass 2: south neighbors within a column (also shifts _e2 → corner)
    wy = Window.partitionBy(*group, "_xi").orderBy("_yi")
    dem = dem.withColumn("_s2", F.lead(VALUE, 2).over(wy)).withColumn(
        "_se2", F.lead("_e2", 2).over(wy)
    )
    # range-direction height increment (reference h_rg_0/h_rg_2)
    d00, d02, d20, d22 = F.col(VALUE), F.col("_e2"), F.col("_s2"), F.col("_se2")
    h_rg_0 = d00 + (d20 - d00) / F.lit(2 * dy) * F.lit(dy - dy_p)
    h_rg_2 = d02 + (d22 - d02) / F.lit(2 * dy) * F.lit(dy + dy_p)
    inc_h_rg = h_rg_2 - h_rg_0
    f_deg = F.round(
        F.degrees(F.atan(inc_h_rg / F.lit(drg))) * F.lit(rg_sign), 9
    )
    # stencil at (yi, xi) describes output pixel (yi+1, xi+1); the
    # reference never uses the last row/col (slices stop at L-2), so
    # stencils needing them are dropped. Scene extent is a broadcast
    # scalar agg — a whole-scene window partition would serialize the
    # scene through one task at scale.
    extent = cube.df.where(F.col(BAND) == "DEM").agg(
        F.max(x_idx).alias("_nxm"), F.max(y_idx).alias("_nym")
    )
    slopes = (
        dem.withColumn("_fdeg", f_deg)
        .join(F.broadcast(extent))
        .where(
            (F.col("_xi") + 2 < F.col("_nxm"))
            & (F.col("_yi") + 2 < F.col("_nym"))
            & F.col("_fdeg").isNotNull()
        )
        .select(
            *group,
            (F.col("_yi") + 1).alias("_cyi"),
            (F.col("_xi") + 1).alias("_cxi"),
            "_fdeg",
        )
    )
    # scalar mean incidence angle (nanmean over the LIA band)
    lia_mean = (
        cube.df.where(F.col(BAND) == "LIA").agg(F.avg(VALUE).alias("_lia"))
    )
    s = slopes.join(F.broadcast(lia_mean))
    fdeg, lia = F.col("_fdeg"), F.col("_lia")
    fs = F.when((fdeg > 0) & (fdeg < lia), fdeg).otherwise(F.lit(0.0)) / lia
    lo = F.when((fdeg > 0) & (fdeg > lia), fdeg).otherwise(F.lit(0.0)) / lia
    masks = s.select(
        *group,
        "_cyi",
        "_cxi",
        F.when(lo > layover_th, 1.0).otherwise(0.0).alias("layover"),
        F.when(fs > foreshortening_th, 1.0).otherwise(0.0).alias("foreshortening"),
        F.when((fdeg < 0) & (F.abs(fdeg) > 90 - lia), 1.0)
        .otherwise(0.0)
        .alias("shadow"),
    )
    # left-join back onto the full DEM grid so borders come out 0
    base = cube.df.where(F.col(BAND) == "DEM").select(
        *group, y_idx.alias("_cyi"), x_idx.alias("_cxi"), Y, X
    )
    joined = base.join(masks, [*group, "_cyi", "_cxi"], "left")
    stack = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(b).alias("band"),
                    F.coalesce(F.col(b), F.lit(0.0)).alias("value"),
                )
                for b in MASK_BANDS
            ]
        )
    ).alias("_m")
    out = joined.select(*group, Y, X, stack).select(
        F.col("_m.band").alias(BAND), *group, Y, X, F.col("_m.value").alias(VALUE)
    )
    from dataclasses import replace

    return Cube(
        out.select(*[d for d in (BAND, *group, Y, X)], VALUE),
        replace(cube.schema, bands=MASK_BANDS),
    )


def convex_hull(pts):
    """Andrew's monotone chain: CCW hull vertices of an (n,2) float64
    array. Pure numpy — the piece of scipy.spatial this module needs,
    reimplemented from the textbook algorithm."""
    import numpy as np

    pts = np.unique(np.asarray(pts, dtype="float64"), axis=0)  # lex-sorted
    if len(pts) <= 2:
        return pts

    def half(points):
        out = []
        for p in points:
            while (
                len(out) >= 2
                and (out[-1][0] - out[-2][0]) * (p[1] - out[-2][1])
                - (out[-1][1] - out[-2][1]) * (p[0] - out[-2][0])
                <= 0
            ):
                out.pop()
            out.append(p)
        return out

    lower = half(pts)
    upper = half(pts[::-1])
    return np.asarray(lower[:-1] + upper[:-1])


def points_in_hull(px, py, hull):
    """Vectorized membership test (boundary counts as inside): a point is
    inside a CCW convex polygon iff it is left-of-or-on every edge."""
    import numpy as np

    px = np.asarray(px, dtype="float64")
    py = np.asarray(py, dtype="float64")
    if len(hull) < 3:
        return np.zeros(px.shape, dtype=bool)
    inside = np.ones(px.shape, dtype=bool)
    for i in range(len(hull)):
        x1, y1 = hull[i]
        x2, y2 = hull[(i + 1) % len(hull)]
        inside &= (x2 - x1) * (py - y1) - (y2 - y1) * (px - x1) >= 0
    return inside


def geocode(
    cube: Cube,
    target_resx: float,
    target_resy: float,
    method: str = "near",
    tile: int = 64,
) -> Cube:
    """Irregular → regular grid resampling (sar2cube/geocode.py:22-197).

    The cube's LON/LAT layer bands give each sample's true position
    (SAR range/azimuth geometry); data bands are re-binned onto a
    regular lon/lat grid anchored at the minimum observed corner.

    ``near``: per target cell keep the minimum-distance sample — one
    pivot + one window, no Python.

    ``linear``: what the reference's "linear" chunked path ACTUALLY
    computes (geocode.py:79-81,103): nearest-neighbor VALUES, masked to
    the convex hull of the chunk's samples (`LinearNDInterpolator` is
    run over zeros purely as a hull/NaN mask — 0 inside, NaN outside).
    Reproduced here without scipy: per target tile (+ the reference's
    8-cell halo offset, geocode.py:39) collect candidate samples via a
    3×3 candidate-tile explode (each sample joins every tile whose halo
    covers it), then numpy does monotone-chain hull + vectorized point-in-hull + blockwise nearest
    inside an applyInPandas group. Every hull-interior cell gets the
    nearest sample's value — including cells no sample snapped into,
    which the `near` path leaves empty.
    """
    data_bands = [b for b in cube.schema.bands if b not in ("LON", "LAT")]
    group = [d for d in cube.key_dims if d not in (BAND, X, Y)]
    # pivot LON/LAT + data bands side by side per source pixel
    aggs = [
        F.max(F.when(F.col(BAND) == b, F.col(VALUE))).alias(b)
        for b in ("LON", "LAT", *data_bands)
    ]
    wide = cube.df.groupBy(*group, Y, X).agg(*aggs).where(
        F.col("LON").isNotNull() & F.col("LAT").isNotNull()
    )
    # grid anchor: minimum lon / maximum lat over the scene (driver-free:
    # scalar agg broadcast into the plan)
    anchor = wide.agg(
        F.min("LON").alias("_lon0"), F.max("LAT").alias("_lat0")
    )
    w = wide.join(F.broadcast(anchor))
    if method == "linear":
        return _geocode_linear(
            cube, w, group, data_bands, target_resx, target_resy, tile
        )
    if method not in ("near", "nearest"):
        raise NotImplementedError(f"geocode method {method!r}")
    txi = F.floor((F.col("LON") - F.col("_lon0")) / F.lit(target_resx) + F.lit(0.5))
    tyi = F.floor((F.col("_lat0") - F.col("LAT")) / F.lit(target_resy) + F.lit(0.5))
    tx = F.col("_lon0") + F.lit(target_resx) * txi
    ty = F.col("_lat0") - F.lit(target_resy) * tyi
    dist = (F.col("LON") - tx) * (F.col("LON") - tx) + (
        F.col("LAT") - ty
    ) * (F.col("LAT") - ty)
    snapped = w.select(
        *group, *data_bands, tx.alias("_tx"), ty.alias("_ty"), dist.alias("_d"),
        Y, X,
    )
    win = Window.partitionBy(*group, "_tx", "_ty").orderBy("_d", X, Y)
    best = (
        snapped.withColumn("_rn", F.row_number().over(win))
        .where(F.col("_rn") == 1)
    )
    stack = F.explode(
        F.array(
            *[
                F.struct(F.lit(b).alias("band"), F.col(b).alias("value"))
                for b in data_bands
            ]
        )
    ).alias("_m")
    out = best.select(*group, "_ty", "_tx", stack).select(
        F.col("_m.band").alias(BAND),
        *group,
        F.col("_ty").alias(Y),
        F.col("_tx").alias(X),
        F.col("_m.value").alias(VALUE),
    )
    from dataclasses import replace

    return Cube(
        out,
        replace(
            cube.schema,
            bands=tuple(data_bands),
            grid=None,  # anchored dynamically; GridSpec unknown statically
        ),
    )


# halo in target cells around each tile when collecting candidate samples —
# the reference's `offset = resolution*8` (sar2cube/geocode.py:39)
GEOCODE_HALO_CELLS = 8


def _geocode_linear(
    cube: Cube,
    w,  # wide samples joined with the broadcast anchor (_lon0/_lat0)
    group: list,
    data_bands: list,
    resx: float,
    resy: float,
    tile: int,
) -> Cube:
    """Hull-masked nearest re-gridding — the reference's chunked "linear"
    geocode without scipy (see :func:`geocode`). One shuffle to the tile
    groups; all geometry runs vectorized in numpy per tile."""
    import numpy as np
    import pandas as pd

    halo = GEOCODE_HALO_CELLS
    # fractional cell coordinates of each sample (NOT snapped — hull
    # geometry uses true positions)
    fx = (F.col("LON") - F.col("_lon0")) / F.lit(resx)
    fy = (F.col("_lat0") - F.col("LAT")) / F.lit(resy)
    cand = F.array(*[F.lit(i) for i in (-1, 0, 1)])
    df = (
        w.withColumn("_fx", fx)
        .withColumn("_fy", fy)
        .select("*", F.explode(cand).alias("_dtx"))
        .select("*", F.explode(cand).alias("_dty"))
        .withColumn("_ttx", F.floor(F.col("_fx") / tile) + F.col("_dtx"))
        .withColumn("_tty", F.floor(F.col("_fy") / tile) + F.col("_dty"))
        .where(
            (F.col("_fx") >= F.col("_ttx") * tile - halo)
            & (F.col("_fx") < (F.col("_ttx") + 1) * tile + halo)
            & (F.col("_fy") >= F.col("_tty") * tile - halo)
            & (F.col("_fy") < (F.col("_tty") + 1) * tile + halo)
        )
        .drop("_dtx", "_dty")
    )
    schema_fields = ", ".join(
        ["band string"]
        + [f"{d} {'timestamp' if d == TIME else 'double'}" for d in group]
        + ["y double", "x double", "value double"]
    )
    bands = list(data_bands)

    def interp_tile(key, pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame(
            columns=["band", *group, "y", "x", "value"]
        )
        ttx, tty = int(key[-2]), int(key[-1])
        lon0 = float(pdf["_lon0"].iloc[0])
        lat0 = float(pdf["_lat0"].iloc[0])
        pts = pdf[["LON", "LAT"]].to_numpy(dtype="float64")
        hull = convex_hull(pts)
        if len(hull) < 3:
            return empty
        # this tile's cell centers
        cxs = lon0 + resx * np.arange(ttx * tile, (ttx + 1) * tile)
        cys = lat0 - resy * np.arange(tty * tile, (tty + 1) * tile)
        CX, CY = np.meshgrid(cxs, cys)
        cx, cy = CX.ravel(), CY.ravel()
        keep = points_in_hull(cx, cy, hull)
        if not keep.any():
            return empty
        cx, cy = cx[keep], cy[keep]
        # deterministic nearest: sort samples by (x, y) so argmin's
        # first-occurrence tie-break == ORDER BY dist, x, y
        order = np.lexsort((pdf["y"].to_numpy(), pdf["x"].to_numpy()))
        sx = pts[order, 0]
        sy = pts[order, 1]
        nearest = np.empty(len(cx), dtype="int64")
        for s in range(0, len(cx), 1024):  # bound the distance matrix
            e = min(s + 1024, len(cx))
            d = (cx[s:e, None] - sx[None, :]) ** 2 + (
                cy[s:e, None] - sy[None, :]
            ) ** 2
            nearest[s:e] = np.argmin(d, axis=1)
        out = []
        src = pdf.iloc[order].reset_index(drop=True)
        for b in bands:
            part = pd.DataFrame({"band": b, "y": cy, "x": cx,
                                 "value": src[b].to_numpy()[nearest]})
            for i, g in enumerate(group):
                part[g] = pdf[g].iloc[0]
            out.append(part)
        res = pd.concat(out, ignore_index=True)
        return res[["band", *group, "y", "x", "value"]]

    out = df.groupBy(*group, "_ttx", "_tty").applyInPandas(
        interp_tile, schema_fields
    )
    from dataclasses import replace

    return Cube(
        out.select(BAND, *group, Y, X, VALUE),
        replace(cube.schema, bands=tuple(data_bands), grid=None),
    )
