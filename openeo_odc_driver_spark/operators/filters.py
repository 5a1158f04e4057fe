"""Filter operators: band / temporal / bbox / spatial predicates.

These are pure `.where()` predicates, so Catalyst pushes them into the
parquet scan (PushedFilters) — at 100 TB they become partition pruning on
`time` and row-group min/max pruning on x/y. Each is one SQL string (one
py4j call per node), with every request value quoted by
``functions/sqltext.lit``. Mirrors
``openeo_odc_driver.py:686-707,1021-1078``.
"""

from __future__ import annotations

from typing import Sequence

# pandas must be importable at module scope: the pandas-UDF type hints below
# are strings (future annotations) that PySpark resolves against this
# module's globals — a factory-local import raises UNSUPPORTED_SIGNATURE.
import pandas as pd
from pyspark.sql import functions as F

from ..core.cube import BAND, TIME, X, Y, Cube
from ..functions.sqltext import lit


def filter_bands(cube: Cube, bands: Sequence[str]) -> Cube:
    """Keep listed bands (openeo_odc_driver.py:1031-1034). Band *order* is
    metadata in long format — recorded on the schema, no sort needed."""
    bands = tuple(bands)
    if not all(isinstance(b, str) for b in bands):
        raise ValueError(f"filter_bands: band labels must be strings: {bands!r}")
    labels = ", ".join(lit(b) for b in bands)
    out = cube.df.where(f"{BAND} IN ({labels})" if bands else "FALSE")
    return Cube(out, cube.schema.with_bands(bands))


def filter_temporal(cube: Cube, start: str, end: str) -> Cube:
    """Half-open [start, end) — the reference subtracts 1 ms from the end
    (``load_odc_collection.py:78-79``); `<` on the raw end is equivalent
    and sargable. The schema's plan-time ``time_extent`` bound is
    intersected with the filter window (closed hi = end − 1 µs, the last
    representable pre-end microsecond), so two temporally filtered cubes
    can be merged disjointness-proven with zero probe jobs."""
    from datetime import datetime, timedelta

    out = cube.df.where(
        f"{TIME} >= CAST({lit(str(start))} AS TIMESTAMP) "
        f"AND {TIME} < CAST({lit(str(end))} AS TIMESTAMP)"
    )
    lo = datetime.fromisoformat(str(start))
    hi = datetime.fromisoformat(str(end)) - timedelta(microseconds=1)
    if cube.schema.time_extent is not None:
        olo, ohi = cube.schema.time_extent
        lo, hi = max(lo, olo), min(hi, ohi)
    schema = cube.schema.with_time_extent((lo, hi))
    if cube.schema.time_axis is not None:
        # known axis filters exactly (half-open [start, end))
        schema = schema.with_time_axis(
            tuple(t for t in cube.schema.time_axis if lo <= t <= hi)
        )
    return Cube(out, schema)


def filter_bbox(
    cube: Cube,
    west: float,
    east: float,
    south: float,
    north: float,
    crs: str | None = None,
) -> Cube:
    """Spatial slice on cube coordinates (openeo_odc_driver.py:1036-1078).

    With ``crs="EPSG:4326"`` and a projected cube, the 4 bbox corners are
    reprojected **driver-side** to the cube CRS and the envelope is
    sliced — exactly the reference's corner transform
    (openeo_odc_driver.py:1040-1060); the data path stays a sargable
    `between` either way (pushed to the parquet scan at scale). The
    y-descending storage needs no special casing for a `between`
    predicate (the reference retries flipped slice bounds, :1076-1078).
    """
    if crs is not None and str(crs) not in ("EPSG:4326", "4326", "epsg:4326"):
        # exact-match the code: a suffix test would silently accept e.g.
        # EPSG:3857 (or EPSG:54326) and slice in the wrong coordinates
        if str(crs) != str(cube.schema.crs):
            raise NotImplementedError(
                f"filter_bbox: request CRS {crs!r} != cube CRS "
                f"{cube.schema.crs!r}; only EPSG:4326 requests are "
                "reprojected (functions/proj.py)"
            )
    elif crs is not None and cube.schema.crs not in (None, "EPSG:4326"):
        from ..functions.proj import bbox_to_cube_crs

        west, east, south, north = bbox_to_cube_crs(
            west, east, south, north, cube.schema.crs
        )
    out = cube.df.where(
        f"{X} BETWEEN {lit(float(west))} AND {lit(float(east))} "
        f"AND {Y} BETWEEN {lit(float(south))} AND {lit(float(north))}"
    )
    return cube.with_df(out)


# --- spatial (polygon) filtering -------------------------------------------
#
# Geometries are query constants (GeoJSON in the process graph,
# openeo_odc_driver.py:686-707). Polygons are broadcast as a tiny DataFrame
# and pixels are tested point-in-polygon. Two containment paths:
#  - general polygons: pure-numpy ray casting pandas UDF (no shapely in the
#    image) — vectorized over Arrow batches;
#  - the bbox prefilter is always applied first so the scan prunes.

def _ray_cast_contains(xs, ys, poly: list[tuple[float, float]]):
    """Vectorized even-odd ray casting; numpy only."""
    import numpy as np

    xs = np.asarray(xs, dtype="float64")
    ys = np.asarray(ys, dtype="float64")
    inside = np.zeros(xs.shape, dtype=bool)
    n = len(poly)
    for i in range(n):
        x1, y1 = poly[i]
        x2, y2 = poly[(i + 1) % n]
        cond = (ys < y1) != (ys < y2)
        with np.errstate(divide="ignore", invalid="ignore"):
            xint = x1 + (ys - y1) / (y2 - y1) * (x2 - x1)
        inside ^= cond & (xs < xint)
    return inside


def convex_geom_id_udf(polygons: list[list[tuple[float, float]]]):
    """First-match geom_id for MANY convex polygons: vectorized numpy
    half-plane tests — the SAME doubles and closed comparisons as
    ``geom_id_col``'s CASE chain (CW→CCW normalized identically), with
    a per-polygon bbox prefilter and a shrinking untagged mask so the
    per-pixel cost is O(touching polygons), not O(|polygons|).

    Why a pandas UDF and not the zones-literal HOF here: Spark 4.1's
    column pruning loses attributes referenced ONLY inside higher-order
    -function lambdas for some plan shapes over locally generated
    (range+project) sources — [INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND]
    at BindReferences (parquet-backed scans are unaffected; the tiled
    tier's packed frames sit behind an Aggregate and are unaffected).
    The Arrow barrier materializes (x, y) explicitly, which is immune
    by construction and still vectorized."""
    from pyspark.sql.types import IntegerType

    norm = []
    for poly in polygons:
        pts = [(float(a), float(b)) for a, b in poly]
        n = len(pts)
        area2 = sum(
            pts[j][0] * pts[(j + 1) % n][1]
            - pts[(j + 1) % n][0] * pts[j][1]
            for j in range(n)
        )
        if area2 < 0:
            pts = pts[::-1]
        xs = [p[0] for p in pts]
        ys = [p[1] for p in pts]
        norm.append((min(xs), max(xs), min(ys), max(ys), pts))

    @F.pandas_udf(IntegerType())
    def tag(xs: pd.Series, ys: pd.Series) -> pd.Series:
        import numpy as np

        x = np.asarray(xs.values, dtype="float64")
        y = np.asarray(ys.values, dtype="float64")
        out = np.full(len(x), -1, dtype="int32")
        for gid, (xmin, xmax, ymin, ymax, pts) in enumerate(norm):
            cand = out < 0
            if not cand.any():
                break
            m = cand & (x >= xmin) & (x <= xmax) & (y >= ymin) & (y <= ymax)
            if not m.any():
                continue
            xm, ym = x[m], y[m]
            inside = np.ones(len(xm), dtype=bool)
            n = len(pts)
            for k in range(n):
                x1, y1 = pts[k]
                x2, y2 = pts[(k + 1) % n]
                inside &= ((x2 - x1) * (ym - y1) - (y2 - y1) * (xm - x1)) >= 0
            out[np.where(m)[0][inside]] = gid
        return pd.Series(out).where(lambda s: s >= 0)

    return tag


def polygon_contains_udf(polygons: list[list[tuple[float, float]]]):
    """Pandas UDF: (x, y) -> geom_id of first containing polygon, else NULL.

    Polygon list is captured in the closure (small, query constant —
    shipped once per task like a broadcast var).
    """
    from pyspark.sql.types import IntegerType

    @F.pandas_udf(IntegerType())
    def contains(xs: pd.Series, ys: pd.Series) -> pd.Series:
        import numpy as np

        out = np.full(len(xs), -1, dtype="int32")
        for gid in range(len(polygons) - 1, -1, -1):
            hit = _ray_cast_contains(xs.values, ys.values, polygons[gid])
            out[hit] = gid
        return pd.Series(out).where(lambda s: s >= 0)

    return contains


def filter_spatial(cube: Cube, polygons: list[list[tuple[float, float]]]) -> Cube:
    """Clip to polygons (drop pixels outside all), openeo_odc_driver.py:686-707.

    Convex polygons (the overwhelmingly common case) take a **pure
    Catalyst path**: containment = AND of half-plane sign tests, fused
    into whole-stage codegen with the scan — zero Python in the row
    path. Concave polygons fall back to the vectorized ray-cast
    pandas UDF. Both behind the same bbox prefilter so the scan prunes."""
    from ..functions.geometry import TAG_CHAIN_MAX, geom_id_col, is_convex

    xs = [p[0] for poly in polygons for p in poly]
    ys = [p[1] for poly in polygons for p in poly]
    pre = filter_bbox(cube, min(xs), max(xs), min(ys), max(ys))
    if all(is_convex(p) for p in polygons):
        if len(polygons) <= TAG_CHAIN_MAX:
            out = pre.df.where(geom_id_col(polygons, X, Y).isNotNull())
        else:
            # many-polygon regime: the CASE chain is O(|polys|) of
            # generated code (64 KB codegen limit) — switch to the
            # vectorized half-plane UDF (identical doubles; see its
            # docstring for why not the zones-literal HOF here)
            tag = convex_geom_id_udf(polygons)
            out = pre.df.where(tag(F.col(X), F.col(Y)).isNotNull())
    else:
        contains = polygon_contains_udf(polygons)
        out = pre.df.where(contains(F.col(X), F.col(Y)).isNotNull())
    return cube.with_df(out)
