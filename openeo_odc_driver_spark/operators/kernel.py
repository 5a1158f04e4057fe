"""`apply_kernel` — 2-D spatial convolution per (band, time)
(openeo_odc_driver.py:1385-1418).

:func:`apply_kernel` is the long-format convolution: a **shift-and-sum
join**. Explode the kernel's (dy, dx, w) triples (a tiny literal array),
shift each pixel's index by the offset, and group back on the shifted key
summing ``w * value``. Entirely JVM-side expressions + one shuffle; works
for the small kernels typical of openEO (3×3 … 7×7). Border mode
``constant 0`` ≙ zero padding (missing neighbors contribute 0, and the
divisor stays the full kernel sum). The clamp/mirror border modes take a
gather join instead. The scale path for big kernels, where the join
fan-out (k² rows per pixel) would dominate, is the tile tier's halo-strip
stencil (``core/tiled.py::apply_kernel_tiled_layout``), which the planner
picks for tiled graphs.

Intentional divergence from the reference: nodata (NULL) *center* pixels
stay NULL here, while the reference ``fillna``s the cube before convolving
(openeo_odc_driver.py:1408-1412) so NaN centers receive convolved values —
we treat nodata as nodata rather than resurrecting masked pixels; NULL
*neighbors* contribute 0 in both paths (≙ the reference's fill_value=0).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import functions as F

from ..core.cube import VALUE, X, Y, Cube


def apply_kernel(
    cube: Cube,
    kernel: Sequence[Sequence[float]],
    factor: float = 1.0,
    border: str | int = 0,
) -> Cube:
    """Shift-and-sum convolution (openeo_odc_driver.py:1385-1418 maps
    openEO border modes to scipy's).

    Borders:

    - ``constant`` 0 (reference default) and ``wrap`` (periodic) use the
      single-shuffle SCATTER form: each pixel explodes into its k²
      weighted contributions and one aggregation on the receiving cell
      does everything. Wrap falls out naturally — the receiving index is
      taken modulo the scene dims (broadcast one-row aggregate, no
      driver action).
    - ``replicate`` / ``reflect`` / ``reflect_pixel`` use the GATHER
      form (:func:`_apply_kernel_gather`): these modes give edge source
      pixels target-dependent multiplicity, which a scatter can't
      express relationally — each target instead explodes its k² source
      indices through the same remap as the tiled path and equi-joins
      the cube back. Two shuffles instead of one; identical semantics to
      the tile tier's ``apply_kernel_tiled_layout`` (cross-parity
      tested).
    """
    if border in ("replicate", "reflect", "reflect_pixel"):
        return _apply_kernel_gather(cube, kernel, factor, border)
    if border not in (0, "0", "constant", "wrap"):
        raise NotImplementedError(f"unknown border mode {border!r}")
    grid = cube.schema.grid
    if grid is None:
        raise ValueError("apply_kernel needs a GridSpec")
    kh = len(kernel)
    kw = len(kernel[0])
    ry, rx = kh // 2, kw // 2
    triples = [
        (dy - ry, dx - rx, float(kernel[dy][dx]))
        for dy in range(kh)
        for dx in range(kw)
        if kernel[dy][dx] != 0
    ]
    offsets = F.array(
        *[F.struct(F.lit(dy).alias("dy"), F.lit(dx).alias("dx"), F.lit(w).alias("w"))
          for dy, dx, w in triples]
    )
    x_idx = ((F.col(X) - F.lit(grid.x0)) / F.lit(grid.resx)).cast("long")
    y_idx = ((F.lit(grid.y0) - F.col(Y)) / F.lit(grid.resy)).cast("long")
    group = [d for d in cube.key_dims if d not in (X, Y)]
    # Single-pass formulation: each pixel explodes into its k² weighted
    # contributions PLUS one center-marker row, and one aggregation keyed
    # on the receiving cell does everything — the conv sum, "is this a
    # real grid cell", and the null-center mask. One scan + one shuffle;
    # the naive contrib-then-join-back shape costs a second scan of the
    # cube and a second shuffle for the join.
    marker = F.struct(
        F.lit(0).alias("dy"), F.lit(0).alias("dx"),
        F.lit(None).cast("double").alias("w"),
    )
    contribs_and_marker = F.concat(
        F.when(F.col(VALUE).isNotNull(), offsets).otherwise(F.array()),
        F.array(marker),
    )
    base = cube.df.withColumn("_xi", x_idx).withColumn("_yi", y_idx)
    extra: list = []
    if border == "wrap":
        extent = base.agg(
            (F.max("_yi") + 1).alias("_nh"), (F.max("_xi") + 1).alias("_nw")
        )
        base = base.join(F.broadcast(extent))
        extra = ["_nh", "_nw"]
        cy = F.pmod(F.col("_yi") + F.col("_o.dy"), F.col("_nh"))
        cx = F.pmod(F.col("_xi") + F.col("_o.dx"), F.col("_nw"))
    else:
        cy = F.col("_yi") + F.col("_o.dy")
        cx = F.col("_xi") + F.col("_o.dx")
    agg = (
        base
        .select(*group, "_xi", "_yi", *extra, VALUE,
                F.explode(contribs_and_marker).alias("_o"))
        .select(
            *group,
            cy.alias("_cy"),
            cx.alias("_cx"),
            F.col("_o.w").isNull().alias("_is_center"),
            (F.col(VALUE) * F.col("_o.w")).alias("_wv"),
            VALUE,
        )
        .groupBy(*group, "_cy", "_cx")
        .agg(
            F.sum("_wv").alias("_conv"),
            F.max(F.when(F.col("_is_center"), 1).otherwise(0)).alias("_has_c"),
            F.max(F.when(F.col("_is_center"), F.col(VALUE))).alias("_cv"),
        )
    )
    out = (
        agg.where(F.col("_has_c") == 1)
        .select(
            *group,
            (F.lit(grid.y0) - F.lit(grid.resy) * F.col("_cy")).alias(Y),
            (F.lit(grid.x0) + F.lit(grid.resx) * F.col("_cx")).alias(X),
            F.when(
                F.col("_cv").isNotNull(),
                F.coalesce(F.col("_conv"), F.lit(0.0)) * F.lit(float(factor)),
            ).alias(VALUE),
        )
        .select(*cube.key_dims, VALUE)
    )
    return cube.with_df(out)


def _remap_idx(idx: F.Column, m: F.Column, border: str) -> F.Column:
    """Out-of-scene index remap for the clamp/mirror border modes (the
    same arithmetic as the tile tier's numpy remap)."""
    if border == "replicate":
        return F.greatest(F.lit(0).cast("long"), F.least(idx, m))
    if border == "reflect":  # edge-inclusive mirror
        return (
            F.when(idx < 0, -idx - 1)
            .when(idx > m, 2 * m + 1 - idx)
            .otherwise(idx)
        )
    # reflect_pixel: edge-exclusive mirror
    return F.when(idx < 0, -idx).when(idx > m, 2 * m - idx).otherwise(idx)


def _apply_kernel_gather(
    cube: Cube,
    kernel: Sequence[Sequence[float]],
    factor: float,
    border: str,
) -> Cube:
    """Gather-join convolution for the clamp/mirror border modes: each
    target pixel explodes its k² (remapped) source indices and the cube
    joins back on the source key. One explode + one equi-join shuffle +
    one aggregation; NULL/absent sources contribute 0 and NULL centers
    stay NULL (same contract as the scatter path and the tile tier)."""
    grid = cube.schema.grid
    if grid is None:
        raise ValueError("apply_kernel needs a GridSpec")
    kh, kw = len(kernel), len(kernel[0])
    ry, rx = kh // 2, kw // 2
    offsets = F.array(
        *[
            F.struct(
                F.lit(dy - ry).alias("dy"),
                F.lit(dx - rx).alias("dx"),
                F.lit(float(kernel[dy][dx])).alias("w"),
            )
            for dy in range(kh)
            for dx in range(kw)
            if kernel[dy][dx] != 0
        ]
    )
    x_idx = ((F.col(X) - F.lit(grid.x0)) / F.lit(grid.resx)).cast("long")
    y_idx = ((F.lit(grid.y0) - F.col(Y)) / F.lit(grid.resy)).cast("long")
    group = [d for d in cube.key_dims if d not in (X, Y)]
    base = cube.df.withColumn("_xi", x_idx).withColumn("_yi", y_idx)
    extent = base.agg(F.max("_yi").alias("_nym"), F.max("_xi").alias("_nxm"))
    targets = (
        base.join(F.broadcast(extent))
        .select(*group, "_yi", "_xi", VALUE, F.explode(offsets).alias("_o"),
                "_nym", "_nxm")
        .select(
            *group,
            "_yi",
            "_xi",
            VALUE,
            F.col("_o.w").alias("_w"),
            # true convolution gathers from t - d (the kernel flip the
            # ADVICE-r1 cross-correlation bug was about)
            _remap_idx(F.col("_yi") - F.col("_o.dy"), F.col("_nym"), border)
            .alias("_sy"),
            _remap_idx(F.col("_xi") - F.col("_o.dx"), F.col("_nxm"), border)
            .alias("_sx"),
        )
    )
    sources = base.select(
        *group,
        F.col("_yi").alias("_sy"),
        F.col("_xi").alias("_sx"),
        F.col(VALUE).alias("_sv"),
    )
    out = (
        targets.join(sources, [*group, "_sy", "_sx"], "left")
        .groupBy(*group, "_yi", "_xi", VALUE)
        .agg(
            F.sum(F.col("_w") * F.coalesce(F.col("_sv"), F.lit(0.0))).alias("_conv")
        )
        .select(
            *group,
            (F.lit(grid.y0) - F.lit(grid.resy) * F.col("_yi")).alias(Y),
            (F.lit(grid.x0) + F.lit(grid.resx) * F.col("_xi")).alias(X),
            F.when(
                F.col(VALUE).isNotNull(),
                F.col("_conv") * F.lit(float(factor)),
            ).alias(VALUE),
        )
        .select(*cube.key_dims, VALUE)
    )
    return cube.with_df(out)
