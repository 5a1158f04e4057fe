"""Fixture geometries + SQL containment for the oracle.

Geometries are query constants (GeoJSON in the reference's process graphs,
``openeo_odc_driver.py:628-707``). The engine tests containment with a
general ray-casting pandas UDF (operators/filters.py); the DuckDB oracle
has no spatial extension here, so oracle SQL uses **convex half-plane
tests** — the fixture polygons are convex (CCW) with vertices at .5
offsets so no pixel center (multiples of 10) sits on an edge, making both
containment tests agree exactly.
"""

from __future__ import annotations

# FIXTURES.md A4: 2 disjoint interior polygons, 1 edge-overlapping, 1 outside
# CCW order (y up). Grid extent: x ∈ [0,150], y ∈ [0,150].
FIXTURE_POLYGONS: list[list[tuple[float, float]]] = [
    # P0: rectangle fully inside
    [(15.5, 35.5), (85.5, 35.5), (85.5, 95.5), (15.5, 95.5)],
    # P1: rectangle fully inside, disjoint from P0
    [(100.5, 10.5), (140.5, 10.5), (140.5, 60.5), (100.5, 60.5)],
    # P2: triangle overlapping the top edge of the extent
    [(5.5, 110.5), (75.5, 110.5), (5.5, 165.5)],
    # P3: rectangle fully outside the extent
    [(200.5, 200.5), (250.5, 200.5), (250.5, 250.5), (200.5, 250.5)],
]


# Long-format zonal/spatial tagging: per-polygon CASE chains are
# codegen-friendly and join-free up to this many zones; beyond it the
# chain is O(|zones|) of generated code (64 KB whole-stage-codegen
# limit) and O(|zones|) py4j round-trips to BUILD, so the vectorized
# half-plane UDF takes over. ONE switch point shared by
# aggregate_spatial and filter_spatial (ADVICE r10: the two had
# drifted into a named constant and a bare 16).
TAG_CHAIN_MAX = 16


def is_convex(poly: list[tuple[float, float]]) -> bool:
    """True when all edge cross-products share a sign (CCW or CW)."""
    n = len(poly)
    if n < 3:
        return False
    signs = set()
    for i in range(n):
        x1, y1 = poly[i]
        x2, y2 = poly[(i + 1) % n]
        x3, y3 = poly[(i + 2) % n]
        cross = (x2 - x1) * (y3 - y1) - (y2 - y1) * (x3 - x1)
        if cross != 0:
            signs.add(cross > 0)
    return len(signs) == 1


def convex_contains_col(poly: list[tuple[float, float]], xcol: str = "x", ycol: str = "y"):
    """Containment for a convex polygon as a pure Column expression — the
    JVM fast path (AND of half-plane sign tests, whole-stage codegen'd,
    pushdown-friendly); mirrors :func:`convex_contains_sql` exactly.
    CW rings are reversed to CCW first."""
    from pyspark.sql import functions as F

    pts = list(poly)
    # orient CCW (shoelace)
    area2 = sum(
        pts[i][0] * pts[(i + 1) % len(pts)][1]
        - pts[(i + 1) % len(pts)][0] * pts[i][1]
        for i in range(len(pts))
    )
    if area2 < 0:
        pts = pts[::-1]
    cond = None
    n = len(pts)
    for i in range(n):
        x1, y1 = pts[i]
        x2, y2 = pts[(i + 1) % n]
        edge = (
            (F.lit(x2) - F.lit(x1)) * (F.col(ycol) - F.lit(y1))
            - (F.lit(y2) - F.lit(y1)) * (F.col(xcol) - F.lit(x1))
            >= 0
        )
        cond = edge if cond is None else (cond & edge)
    return cond


def geom_id_col(polys: list[list[tuple[float, float]]], xcol: str = "x", ycol: str = "y"):
    """First-match geom_id as a Column (requires every polygon convex)."""
    from pyspark.sql import functions as F

    expr = F.lit(None).cast("int")
    for i in range(len(polys) - 1, -1, -1):
        expr = F.when(convex_contains_col(polys[i], xcol, ycol), F.lit(i)).otherwise(expr)
    return expr


def convex_contains_sql(poly: list[tuple[float, float]], xcol: str = "x", ycol: str = "y") -> str:
    """AND of edge cross-products ≥ 0 for a CCW convex polygon."""
    terms = []
    n = len(poly)
    for i in range(n):
        x1, y1 = poly[i]
        x2, y2 = poly[(i + 1) % n]
        terms.append(
            f"(({x2!r} - {x1!r}) * ({ycol} - {y1!r}) - "
            f"({y2!r} - {y1!r}) * ({xcol} - {x1!r}) >= 0)"
        )
    return "(" + " AND ".join(terms) + ")"


def geom_id_case_sql(polys=None, xcol: str = "x", ycol: str = "y") -> str:
    """First-match geom_id CASE expression (mirrors the UDF's first-wins)."""
    polys = polys if polys is not None else FIXTURE_POLYGONS
    whens = " ".join(
        f"WHEN {convex_contains_sql(p, xcol, ycol)} THEN {i}"
        for i, p in enumerate(polys)
    )
    return f"CASE {whens} END"


def raycast_contains_sql(poly, xcol: str = "x", ycol: str = "y") -> str:
    """Even-odd ray-cast containment as portable SQL — the SAME
    per-edge float arithmetic as the engine's ray-cast UDF
    (operators/filters._ray_cast_contains), which the tiled zonal
    engine reuses: crossing iff (y < y1) != (y < y2) and
    x < x1 + (y - y1) / (y2 - y1) * (x2 - x1), XOR-folded as an odd
    crossing COUNT (both engines evaluate IEEE doubles left-to-right,
    so the oracle matches bit-for-bit away from degenerate on-edge
    pixels — fixture vertices sit at .5 offsets to guarantee that).
    Vertex order is the ORIGINAL ring order, not CCW-normalized, to
    round identically to the UDF."""
    terms = []
    n = len(poly)
    for i in range(n):
        x1, y1 = float(poly[i][0]), float(poly[i][1])
        x2, y2 = float(poly[(i + 1) % n][0]), float(poly[(i + 1) % n][1])
        terms.append(
            f"(CASE WHEN (({ycol} < {y1!r}) != ({ycol} < {y2!r})) AND "
            f"{xcol} < {x1!r} + ({ycol} - {y1!r}) / ({y2!r} - {y1!r}) "
            f"* ({x2!r} - {x1!r}) THEN 1 ELSE 0 END)"
        )
    return "((" + " + ".join(terms) + ") % 2 = 1)"


def raycast_geom_id_case_sql(polys, xcol: str = "x", ycol: str = "y") -> str:
    """First-match geom_id CASE over ray-cast containment — the oracle
    twin of the concave tagging path (ALL polygons use the crossing
    rule when any is concave, exactly like polygon_contains_udf)."""
    whens = " ".join(
        f"WHEN {raycast_contains_sql(p, xcol, ycol)} THEN {i}"
        for i, p in enumerate(polys)
    )
    return f"CASE {whens} END"
