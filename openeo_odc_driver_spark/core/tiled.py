"""The SURVEY §1.4 tiled raster layout — the storage/scale tier of the
cube model.

Long format (`core/cube.py`) is the correctness tier: one row per
pixel-observation, every operator a relational plan. At raster scale
(10^12 pixels) the per-pixel schema overhead dominates scan bytes — a
pixel is 8 payload bytes carrying ~32 bytes of (band, time, y, x) keys.
The tiled layout stores one row per ``(band, time, tile_row, tile_col)``
with the pixels as a dense row-major ``data: array<double>`` of length
``tile²`` (NULL elements ≙ nodata, exactly the long form's NULL
``value``), so the coordinate keys amortize over tile² pixels and the
payload is contiguous — the same chunking decision the reference makes
with 1000×1000×1 dask chunks (``load_odc_collection.py:130``), expressed
as a DataFrame layout instead of a runtime chunk graph.

Design rules:

- **Lossless for dense rasters.** ``from_tiled(to_tiled(cube)) ≡ cube``
  whenever the long cube has one row per grid cell (the reference's
  cubes are dense xarray arrays, so this is the operative case; the
  round-trip is oracle-gated). Cells past the scene edge in partial
  tiles are NULL padding in storage and are dropped on expansion using
  the scene dims carried on the handle.
- **Operators run natively on tiles** where the access pattern wants
  whole tiles: the time reducers (:func:`reduce_time_tiled`
  mean/median/sum/min/max/sd/variance) and the calendar resample
  (:func:`aggregate_temporal_period_tiled`) fold element-wise per
  tile in one shared numpy fold, :func:`_fold_groups` (one shuffle
  keyed by (band[, period], tile) — same exchange count as the long
  reducer, tile²× fewer rows); every per-axis regrid (nearest snap,
  window/edge retile, bilinear) is one fragment gather,
  :func:`_gather_tiles`; band math (:func:`normalized_difference_tiled`)
  and masking (:func:`mask_tiled`) are single tile-keyed equi-joins +
  zip_with;
  :func:`filter_bbox_tiled` prunes whole tiles via a coarse
  tile-range predicate (parquet min/max on the stored layout) before
  the exact pixel filter; :func:`apply_kernel_tiled_layout` does the
  classic halo exchange — each tile is replicated to its 8 neighbors
  and one `applyInPandas` per target tile runs the stencil on a
  3T×3T canvas (shuffle volume 9× tile bytes, independent of kernel
  size; the long-format shift-and-sum scatter shuffles k²× pixel
  rows instead). :func:`save_tiled` / :func:`load_tiled` make it a
  storage tier (band-partitioned parquet + a metadata sidecar).
- **Everything stays engine-exact.** The fixture's dyadic-rational
  values make sums order-free, the time folds sort by timestamp, and
  the arithmetic is the same expression shapes the long paths use —
  every tiled op shares its DuckDB oracle with the long-format row it
  mirrors (plus a composed end-to-end row, ``tiled_pipeline_e2e``).

Assumes non-negative pixel indices (the grid origin is the scene
corner — true for every loader in this repo); coordinates left/above
the origin would need floor-division index math.
"""

from __future__ import annotations

from dataclasses import dataclass, replace as _dc_replace
from typing import Sequence

from pyspark.sql import DataFrame, functions as F

from .cube import BAND, TIME, VALUE, X, Y, Cube, CubeSchema, GridSpec


@dataclass
class TiledCube:
    """Tiled-layout handle: DataFrame ``(band [, time], tile_row,
    tile_col, data)`` plus the metadata needed to expand back — the
    cube schema (grid geometry, dims), the tile edge, and the scene
    dims in pixels (to drop edge padding)."""

    df: DataFrame
    schema: CubeSchema
    tile: int
    n_y: int
    n_x: int

    @property
    def key_dims(self) -> list[str]:
        return [d for d in (BAND, TIME) if d in self.schema.dims]


def _require_same_grid(
    op: str, a: "TiledCube", b: "TiledCube", check_scene: bool = False
) -> None:
    """Guard for binary tiled operators that equi-join on tile indices:
    a tile index names a GEOGRAPHIC footprint only relative to the
    cube's grid, so joining two cubes on different grids silently pairs
    misaligned tiles (e.g. the zero-shuffle upscale RELABEL re-anchors
    its grid onto the occupied coarse lattice — round-13 fix for the
    r12 advisory). Raises :class:`TiledRegridUnsupported`, which the
    planner catches and demotes to the long tier (correct result,
    recorded demotion) — never a hard error where the long plan
    succeeds. Grids unknown on either side (handle-built cubes without
    a GridSpec) keep the legacy same-scene contract."""
    ga, gb = a.schema.grid, b.schema.grid
    if ga is not None and gb is not None and ga != gb:
        raise TiledRegridUnsupported(
            f"{op}: tile-index join across different grids "
            f"({ga} vs {gb}); demoting to the long tier"
        )
    if check_scene and (a.n_y, a.n_x) != (b.n_y, b.n_x):
        raise TiledRegridUnsupported(
            f"{op}: scene mismatch {(a.n_y, a.n_x)} vs "
            f"{(b.n_y, b.n_x)}; demoting to the long tier"
        )


_EXCHANGE_TARGET_BYTES = 32 << 20  # raw array payload per shuffle task
# 32 MiB: the Arrow->pandas->python-object fold inflates raw arrays
# ~6-10x transiently, so 32 MiB/task keeps 32 concurrent tasks' working
# set ~10 GB — and lands the flagship's 5.1 GB median exchange at ~152
# partitions, bracketing the 128 that measured exponent 0.67 (PLANS.md)
_ASSUMED_TIME_STEPS = 32           # conservative stand-in when the axis is unknown


def _raster_exchange_width(tc: "TiledCube") -> int | None:
    """Plan-constant width for the tile-keyed fold exchanges — the
    round-13 measurement (PLANS.md): ndvi_median at 1.26 G cells is
    MEMORY-BOUND at the 32-partition session default (69-84 GB transient
    pinning the heap, 10->100x exponent 1.55), while ordinary deployment
    sizing (128) restores 0.67 with ~40% lower peaks. Rather than rely on
    a human setting ``spark.sql.shuffle.partitions``, each raster fold
    sizes its own exchange from catalog constants: payload = tiles x
    bands x time-steps x tile^2 x 8 bytes, width = payload /
    ``_EXCHANGE_TARGET_BYTES`` (32 MiB of raw arrays per task keeps the
    per-task Arrow+numpy transient far from the heap).

    **Oracle-determinism guard**: returns None (no repartition, plan
    byte-identical to r13) whenever the computed width does not EXCEED
    the session default — every sf0.01 gate fixture lands there, so
    gate hashes cannot move; only genuinely large scenes widen. The
    group-fold results themselves are partitioning-invariant (each
    group's rows land in one task either way); this changes WHERE
    groups run, not what they contain."""
    spark = tc.df.sparkSession
    try:
        default = int(spark.conf.get("spark.sql.shuffle.partitions"))
    except Exception:
        default = 200
    payload = _tile_group_count(tc) * tc.tile * tc.tile * 8
    width = -(-payload // _EXCHANGE_TARGET_BYTES)
    if width <= default:
        return None
    return int(min(width, 4096))


def _tile_group_count(tc: "TiledCube") -> int:
    """Catalog-constant estimate of the (keys, tile) group count — the
    same constants :func:`_raster_exchange_width` sizes bytes from."""
    tiles = (-(-tc.n_y // tc.tile)) * (-(-tc.n_x // tc.tile))
    bands = max(len(tc.schema.bands), 1) if BAND in tc.schema.dims else 1
    if TIME in tc.schema.dims:
        ax = tc.schema.time_axis
        n_t = len(ax) if ax else _ASSUMED_TIME_STEPS
    else:
        n_t = 1
    return tiles * bands * n_t


def _py_stage_width(tc: "TiledCube") -> int | None:
    """Partition width for an Arrow/pandas tile stage (applyInPandas):
    the raster-aware BYTE sizing when the scene is large enough to
    trip it, else a PARALLELISM floor. Rationale (round-15
    optimization, guide §2.2/§4): AQE coalesces post-shuffle
    partitions by bytes, but a pandas stage's cost is per-GROUP Python
    work — at gate/bench scale the whole stencil stage coalesced to
    ONE task walking every tile group serially (measured on one
    kernel leg: 3.31 s → 2.13 s with coalescing disabled). An explicit
    ``repartition(width, keys)`` REPLACES the groupBy exchange
    (HashPartitioning on the group keys satisfies the downstream
    ClusteredDistribution) and AQE leaves user-numbered repartitions
    alone. Width = min(defaultParallelism, group count) — both
    cluster- and data-adaptive, never a local[32] constant. Group
    results are partitioning-invariant (each group lands whole in one
    task either way), so gate values cannot move."""
    w = _raster_exchange_width(tc)
    if w is not None:
        return w
    dp = tc.df.sparkSession.sparkContext.defaultParallelism
    width = min(int(dp), _tile_group_count(tc))
    return width if width > 1 else None


def _widen_py(tc: "TiledCube", df: DataFrame, keys: list[str]) -> DataFrame:
    """Pre-cluster a pandas-stage input on its group keys at
    :func:`_py_stage_width` (byte-sized at scale, parallelism floor at
    small scale)."""
    w = _py_stage_width(tc)
    if w is None:
        return df
    return df.repartition(w, *[F.col(k) for k in keys])


def _widen_df(tc: "TiledCube", df: DataFrame, keys: list[str]) -> DataFrame:
    """An arbitrary raster-carrying frame (fold input, halo pieces,
    repack fragments) pre-clustered on the group keys at the
    raster-aware width (no-op under the oracle guard). The width comes
    from the HANDLE's metadata — a halo/fragment frame carries a small
    constant factor more than the raster itself, which the 32 MiB/task
    target already absorbs."""
    w = _raster_exchange_width(tc)
    if w is None:
        return df
    return df.repartition(w, *[F.col(k) for k in keys])


def _widened_join_sides(
    big: "TiledCube", big_df: DataFrame, other_df: DataFrame,
    keys: list[str],
) -> tuple[DataFrame, DataFrame]:
    """Both sides of a tile-keyed binary join pre-clustered at the
    raster-aware width (mask, band zip, merge resolver — the joins the
    round-13 heap telemetry shows carrying whole-raster arrays through
    the 32-partition default at 100×). Same oracle guard as
    :func:`_widen_df`: no-op unless the BIG side's payload demands more
    than the session default; when it does, HashPartitioning(keys, w)
    on both sides satisfies the join's distribution requirement, so
    the two repartitions REPLACE the join's own exchanges."""
    w = _raster_exchange_width(big)
    if w is None:
        return big_df, other_df
    cols = [F.col(k) for k in keys]
    return (big_df.repartition(w, *cols),
            other_df.repartition(w, *cols))


def _indices(cube: Cube):
    grid = cube.schema.grid
    if grid is None:
        raise ValueError("to_tiled needs a GridSpec to derive pixel indices")
    # round-to-nearest before the integral cast: cast('long') truncates
    # toward zero, so on grids whose coordinates are not exactly
    # representable (non-dyadic resolutions, e.g. degree grids) a
    # quotient like 3.9999999999 would land the pixel in the wrong
    # cell/tile; on-grid coordinates are within ~1e-9 cells of integral,
    # far inside the 0.5-cell rounding tolerance
    x_idx = F.round((F.col(X) - F.lit(grid.x0)) / F.lit(grid.resx)).cast("long")
    y_idx = F.round((F.lit(grid.y0) - F.col(Y)) / F.lit(grid.resy)).cast("long")
    return x_idx, y_idx


# ---- the tile payload boundary ------------------------------------------
# A tile's ``data`` crosses into pandas stages as a list of doubles with
# NULL elements; inside a stage it is float64 with NaN. These helpers are
# the only places that spell that encoding (NULL → NaN in, NaN → None
# out), plus the key echo and output DDL every tile stage repeats.


def _tile_stack(pdf) -> "np.ndarray":
    """A group's ``data`` column as one (rows, cells) float64 array,
    NULL elements as NaN. ``np.asarray(dtype=float64)`` maps None → NaN
    in C — never walk the elements in Python (measured: the
    comprehension cost more than the reduction)."""
    import numpy as np

    return np.array([np.asarray(d, dtype="float64") for d in pdf["data"]])


def _tile_list(arr) -> list:
    """Encode a float64 array as a ``data`` payload: flattened
    row-major, NaN → None (the tiled NULL). Vectorized: the
    per-element comprehension was ~1/3 of a repack's wall at 12.6 M px."""
    import numpy as np

    flat = np.asarray(arr, dtype="float64").reshape(-1)
    obj = flat.astype(object)
    obj[np.isnan(flat)] = None
    return obj.tolist()


def _group_keys(row, keys: Sequence[str]) -> dict:
    """A group's key values echoed from one of its rows, with
    ``tile_row``/``tile_col`` cast back to int."""
    return {
        k: int(row[k]) if k in ("tile_row", "tile_col") else row[k]
        for k in keys
    }


def _ddl(schema, cols: Sequence[str], *fields: str) -> str:
    """DDL field list for a pandas stage's output: ``cols`` typed as in
    ``schema`` (a derived label like ``month`` keeps its own type),
    then the literal ``fields``."""
    return ", ".join([
        *(f"{c} {schema[c].dataType.simpleString()}" for c in cols),
        *fields,
    ])


def to_tiled(
    cube: Cube,
    tile: int = 256,
    n_y: int | None = None,
    n_x: int | None = None,
) -> TiledCube:
    """Long → tiled: one aggregation keyed by (band, time, tile_row,
    tile_col); each group assembles its dense row-major pixel array via
    a position map (missing / nodata cells stay NULL). Scene dims are
    probed with one tiny max-index aggregate when not supplied (pass
    them to keep the plan action-free — sources that know their grid
    statically should).

    The pack is one Arrow-batched ``applyInPandas`` position scatter
    per tile group. The packed array's ONLY missing-value
    representation is NULL: a float NaN input VALUE folds to NULL on
    pack (the Arrow float64 transfer cannot distinguish them; fragment
    shuffles round-trip NULL↔NaN the same way). Duplicate pixel keys
    within a tile raise a named ``ValueError``.

    Scale shape: the groupBy is the ONLY exchange, its key count is
    pixels/tile² (e.g. 10^12 px → 15 M rows at tile=256), and each
    group's state is one fixed-size array — no skew (every tile has
    exactly tile² candidate cells)."""
    if tile < 1:
        raise ValueError(f"tile must be >= 1, got {tile}")
    x_idx, y_idx = _indices(cube)
    if n_y is None or n_x is None:
        ext = cube.df.agg(
            (F.max(y_idx) + 1).alias("ny"), (F.max(x_idx) + 1).alias("nx")
        ).collect()[0]
        n_y = int(ext.ny) if n_y is None else n_y
        n_x = int(ext.nx) if n_x is None else n_x
    keys = [d for d in (BAND, TIME) if d in cube.schema.dims]
    pos = ((y_idx % tile) * tile + (x_idx % tile)).cast("int")
    staged = cube.df.select(
        *keys,
        (y_idx / tile).cast("int").alias("tile_row"),
        (x_idx / tile).cast("int").alias("tile_col"),
        pos.alias("_pos"),
        VALUE,
    )
    import numpy as np
    import pandas as pd

    T2 = tile * tile
    gkeys = [*keys, "tile_row", "tile_col"]

    def scatter(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pos = pdf["_pos"].to_numpy()
        if len(np.unique(pos)) != len(pos):
            raise ValueError(
                "to_tiled: duplicate pixel keys within a tile "
                "(one row per (band, time, y, x) required)"
            )
        arr = np.full(T2, np.nan)
        arr[pos] = pdf[VALUE].to_numpy(dtype="float64")
        return pd.DataFrame([
            {**_group_keys(pdf.iloc[0], gkeys), "data": _tile_list(arr)}
        ])

    # the pack is per-GROUP Python work invisible to byte-based AQE
    # coalescing; pre-cluster at the pandas-stage width. The scatter is
    # position-keyed (order-free), so the repartition cannot move a value.
    _w_handle = TiledCube(staged, cube.schema, tile, n_y, n_x)
    df = _widen_py(_w_handle, staged, gkeys).groupBy(
        *gkeys
    ).applyInPandas(
        scatter, _ddl(staged.schema, gkeys, "data array<double>")
    )
    return TiledCube(df, cube.schema, tile, n_y, n_x)


def from_tiled(tc: TiledCube) -> Cube:
    """Tiled → long: posexplode each tile's array back to pixel rows,
    derive coordinates from the grid, and drop the out-of-scene padding
    of partial edge tiles. Zero exchanges — a pure scan-fused expansion
    (the Generate and the projection pipeline inside one stage).

    Non-dimension key columns riding on the tile rows (e.g. the
    ``month`` label climatological_normal_tiled emits in place of
    time) pass through to the long rows, mirroring how the long
    operators carry them."""
    grid = tc.schema.grid
    T = tc.tile
    keys = tc.key_dims
    extras = [
        c for c in tc.df.columns
        if c not in (*keys, "tile_row", "tile_col", "data")
    ]
    exploded = tc.df.select(
        *keys,
        *extras,
        "tile_row",
        "tile_col",
        F.posexplode_outer("data").alias("_pos", VALUE),
    )
    y_idx = F.col("tile_row").cast("long") * T + (F.col("_pos") / T).cast(
        "long"
    )
    x_idx = F.col("tile_col").cast("long") * T + F.col("_pos") % T
    df = (
        exploded.where((y_idx < tc.n_y) & (x_idx < tc.n_x))
        .select(
            *keys,
            *extras,
            (F.lit(grid.y0) - F.lit(grid.resy) * y_idx).alias(Y),
            (F.lit(grid.x0) + F.lit(grid.resx) * x_idx).alias(X),
            VALUE,
        )
    )
    return Cube(df, tc.schema)


def aggregate_temporal_period_tiled(
    tc: TiledCube, period: str, reducer: str = "mean"
) -> TiledCube:
    """Calendar-period resample natively on tiles (the long
    ``aggregate_temporal_period`` on the packed layout): date_trunc
    re-labels time to the period start, and the same element-wise fold
    as :func:`reduce_time_tiled` runs per (band, period, tile) — the
    time dimension survives, coarsened. One exchange, keyed by
    (band, period, tile): periods multiply the key count but divide
    the per-group state, so the bound on group memory only improves.

    NULL semantics are exactly :func:`reduce_time_tiled`'s;
    period names and time-metadata handling mirror the long operator
    (stale extent dropped; a known input axis maps to its truncation
    image)."""
    from ..operators.aggregates import _PERIODS, _py_trunc

    if TIME not in tc.schema.dims:
        raise ValueError(
            "aggregate_temporal_period_tiled needs a time dimension"
        )
    if period not in _PERIODS:
        raise ValueError(f"unsupported period {period!r}")
    unit = _PERIODS[period]
    relabeled = TiledCube(
        tc.df.withColumn(TIME, F.date_trunc(unit, F.col(TIME))),
        tc.schema,
        tc.tile,
        tc.n_y,
        tc.n_x,
    )
    out = _fold_time_groups(relabeled, reducer, extra_keys=[TIME])
    schema = tc.schema.with_time_extent(None)
    if tc.schema.time_axis is not None:
        schema = schema.with_time_axis(
            tuple(sorted({_py_trunc(unit, t) for t in tc.schema.time_axis}))
        )
    return TiledCube(out, schema, tc.tile, tc.n_y, tc.n_x)


def climatological_normal_tiled(
    tc: TiledCube, frequency: str = "monthly"
) -> TiledCube:
    """The long ``climatological_normal`` (reference
    ``openeo_odc_driver.py:1354-1373``: groupby('time.month') mean)
    natively on tiles — :func:`aggregate_temporal_period_tiled`'s fold
    with ``month(time)`` as the grouping label instead of a truncated
    timestamp. One exchange keyed by (band, month, tile); the time
    dimension is replaced by a ``month`` column (1..12) riding on the
    tile rows, which :func:`from_tiled` passes through to the long
    rows exactly like the long operator emits it. NULL semantics are
    :func:`reduce_time_tiled`'s."""
    if frequency != "monthly":
        raise ValueError("only frequency='monthly' supported (as reference)")
    if TIME not in tc.schema.dims:
        raise ValueError("climatological_normal_tiled needs a time dimension")
    band = [BAND] if BAND in tc.schema.dims else []
    labeled = TiledCube(
        tc.df.withColumn("month", F.month(TIME)),
        tc.schema, tc.tile, tc.n_y, tc.n_x,
    )
    out = _fold_groups(
        labeled, "mean",
        keys=[*band, "month", "tile_row", "tile_col"],
        sort_field=TIME,
    )
    return TiledCube(out, tc.schema.drop(TIME), tc.tile, tc.n_y, tc.n_x)


def reduce_time_tiled(tc: TiledCube, reducer: str = "mean") -> TiledCube:
    """Reduce the time axis natively on tiles — mean / median / sum /
    min / max / sd / variance with the long reducer's NULL semantics
    (NULL elements skipped, all-NULL positions stay NULL).

    One Arrow-batched ``applyInPandas`` per tile group
    (:func:`_fold_groups`): stack the group's arrays, one vectorized
    nan-reduction. mean/sum are numpy's pairwise sums, exact on the
    fixture's dyadic inputs; median is ``np.nanmedian`` — the flagship
    NDVI shape's reducer.

    Scale shape vs the long reducer: the same single exchange, but
    keyed by tile (tile²× fewer, perfectly uniform keys) and carrying
    packed arrays instead of per-pixel rows; group state is bounded by
    n_times · tile² doubles (24×256² ≈ 12 MB — sized so a tile-group
    fits comfortably in an executor task)."""
    if TIME not in tc.schema.dims:
        raise ValueError("reduce_time_tiled needs a time dimension")
    df = _fold_time_groups(tc, reducer, extra_keys=[])
    return TiledCube(
        df, tc.schema.drop(TIME), tc.tile, tc.n_y, tc.n_x
    )


def reduce_bands_tiled(tc: TiledCube, reducer: str = "mean") -> TiledCube:
    """Reduce the BAND axis natively on tiles — the other long-format
    reducer dimension (``reduce_dimension(dim='bands')``): the same
    element-wise fold as :func:`reduce_time_tiled`, grouped by
    ([time,] tile) across the band rows, sorted by band label for a
    deterministic fold order. Output drops the band dimension."""
    if BAND not in tc.schema.dims:
        raise ValueError("reduce_bands_tiled needs a band dimension")
    keys = [d for d in (TIME,) if d in tc.schema.dims]
    df = _fold_groups(
        tc, reducer, keys=[*keys, "tile_row", "tile_col"], sort_field=BAND,
    )
    return TiledCube(
        df, tc.schema.drop(BAND), tc.tile, tc.n_y, tc.n_x
    )


def quantiles_tiled(
    tc: TiledCube,
    probabilities: "Sequence[float] | None" = None,
    q: int | None = None,
    dim: str = TIME,
) -> TiledCube:
    """openEO ``quantiles`` over the TIME axis natively on tiles (long
    twin ``operators/reducers.py:quantiles``; reference wires it under
    ``apply_dimension``, ``openeo_odc_driver.py:852-904``): the
    median fold of :func:`_fold_groups` generalized to a probability
    list — per position one vectorized ``np.nanpercentile`` over the
    stacked arrays, one output tile row PER probability with a ``prob``
    column riding (``from_tiled`` passes it through exactly like the
    long operator's exploded prob column). Linear interpolation between
    closest ranks is the same arithmetic in numpy, Spark ``percentile``
    and DuckDB ``quantile_cont`` (lower + frac·(higher−lower)), so the
    tiers stay bit-equal on dyadic inputs; all-NULL positions stay NULL.
    One tile-keyed exchange — same shape as the median fold (its own
    stage, because it emits one row per probability).

    ``dim`` picks the reduced axis: TIME (default) stacks a pixel's
    time slices, BAND (round 12 — closes the last quantiles-family
    demotion) stacks its band rows; the fold is identical (percentile
    is order-free over the stack)."""
    import numpy as np
    import pandas as pd

    if (probabilities is None) == (q is None):
        raise ValueError("exactly one of probabilities/q required")
    if q is not None:
        probabilities = [i / q for i in range(1, q)]
    probs = [float(p) for p in probabilities]
    if dim not in (TIME, BAND):
        raise ValueError(f"quantiles_tiled reduces time or band, got {dim!r}")
    if dim not in tc.schema.dims:
        raise ValueError(f"quantiles_tiled needs a {dim} dimension")
    keys = [d for d in (BAND, TIME) if d in tc.schema.dims and d != dim]
    gkeys = [*keys, "tile_row", "tile_col"]

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        stack = _tile_stack(pdf)
        all_nan = np.isnan(stack).all(axis=0)
        safe = np.where(all_nan[None, :], 0.0, stack)
        qs = np.nanpercentile(
            safe, [p * 100.0 for p in probs], axis=0
        )  # (len(probs), T2)
        qs[:, all_nan] = np.nan
        base = _group_keys(pdf.iloc[0], gkeys)
        return pd.DataFrame([
            {**base, "prob": p, "data": _tile_list(qs[i])}
            for i, p in enumerate(probs)
        ])

    df = _widen_py(tc, tc.df, gkeys).groupBy(*gkeys).applyInPandas(
        fold, _ddl(tc.df.schema, gkeys, "prob double", "data array<double>")
    )
    return TiledCube(df, tc.schema.drop(dim), tc.tile, tc.n_y, tc.n_x)


def array_interpolate_linear_tiled(tc: TiledCube) -> TiledCube:
    """Linear gap-fill of NULLs along TIME natively on tiles (long twin
    ``operators/dimops.py:array_interpolate_linear``; reference
    ``openeo_odc_driver.py:1326-1337``): per tile group the time stack
    fills interior NaNs by the coordinate-weighted blend of the
    previous/next non-NULL sample — fully vectorized via
    forward/backward ``maximum.accumulate`` index fills +
    ``take_along_axis`` gathers; ends stay NULL (xarray interpolate_na
    default). The arithmetic is the long window plan's expression
    (pv + (coord−pc)/(nc−pc)·(nv−pv), coords = unix micros as double)
    evaluated in the same order, so the tiers agree bit-for-bit.

    One tile-keyed exchange carrying each tile's time stack — the long
    plan's two window passes shuffle per-pixel rows twice."""
    import numpy as np
    import pandas as pd

    if TIME not in tc.schema.dims:
        raise ValueError("array_interpolate_linear_tiled needs time")
    keys = [BAND] if BAND in tc.schema.dims else []
    gkeys = [*keys, "tile_row", "tile_col"]

    def fill(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(TIME).reset_index(drop=True)
        stack = _tile_stack(pdf)
        nt = stack.shape[0]
        # epoch micros as double — the long plan's coordinate
        coord = (
            pdf[TIME].astype("datetime64[us]").astype("int64")
            .to_numpy().astype("float64")
        )
        nan = np.isnan(stack)
        rows = np.arange(nt)[:, None]
        fidx = np.maximum.accumulate(np.where(~nan, rows, -1), axis=0)
        bidx_r = np.maximum.accumulate(
            np.where(~nan[::-1], rows, -1), axis=0
        )[::-1]
        has_b = bidx_r >= 0
        bidx = np.where(has_b, nt - 1 - bidx_r, 0)
        has_f = fidx >= 0
        f_safe = np.maximum(fidx, 0)
        pv = np.take_along_axis(stack, f_safe, axis=0)
        nv = np.take_along_axis(stack, bidx, axis=0)
        pc = coord[f_safe]
        ncd = coord[bidx]
        fillable = nan & has_f & has_b
        with np.errstate(invalid="ignore", divide="ignore"):
            interp = pv + (coord[:, None] - pc) / (ncd - pc) * (nv - pv)
        out = np.where(fillable, interp, stack)
        base = _group_keys(pdf.iloc[0], gkeys)
        return pd.DataFrame([
            {**base, TIME: pdf[TIME].iloc[i], "data": _tile_list(out[i])}
            for i in range(nt)
        ])

    df = _widen_py(tc, tc.df, gkeys).groupBy(*gkeys).applyInPandas(
        fill, _ddl(tc.df.schema, gkeys, f"{TIME} timestamp",
                   "data array<double>")
    )
    # column order back to the canonical (keys, time, tiles, data)
    df = df.select(*keys, TIME, "tile_row", "tile_col", "data")
    return TiledCube(df, tc.schema, tc.tile, tc.n_y, tc.n_x)


_SPATIAL_REDUCERS = ("mean", "sum", "min", "max", "count", "sd", "variance")
_SPATIAL_MULTISET = ("median", "product")


def reduce_spatial_tiled(tc: TiledCube, dim: str, reducer: str) -> Cube:
    """Reduce a SPATIAL axis (x or y) natively on tiles — the last
    reducer dimension without a tile path (reference reduces over x/y
    too, ``openeo_odc_driver.py:728-733``; long twin
    ``operators/reducers.py:81``). Emits a LONG cube: the result keeps
    one spatial axis, already n× smaller than the raster, so long rows
    are the honest layout (the ``aggregate_spatial_tiled`` precedent).

    Physical plan — within-tile partial fold + cross-tile combine:

    1. **Scan-fused line partials** (zero exchange): each tile folds its
       reduced axis to T per-line partials ``(Σ, Σx², n, min, max)`` —
       the raster drops T× BEFORE anything shuffles.
    2. **One exchange of line-partial rows** keyed by
       (band[, time], kept index): key count is raster/n_reduced_axis,
       combine is a plain Catalyst aggregate with map-side combine.

    The demoted plan shuffled the same line partials but only AFTER a
    from_tiled posexplode fed per-pixel rows through the partial
    hash-aggregate — the fold here is per-tile arithmetic instead of a
    T²-row hash probe per tile.

    Stage 1 is a vectorized numpy axis reduction per tile
    (``mapInPandas``). NULL semantics match the long reducers
    (NULLs skipped; empty lines → NULL value rows, the long groupBy's
    behavior on all-NULL lines of a dense cube).

    ``median``/``product`` need the line MULTISET: stage 1 emits each
    line's non-NULL values as a compact array (NULL stripping shrinks
    the exchange below the demotion's per-pixel keyed rows), stage 2
    explodes AFTER the exchange and finishes with the long
    ``median_expr``/``product_expr`` verbatim — the sorted-fold product
    and exact percentile rounding stay tier-identical."""
    if dim not in (X, Y):
        raise ValueError(f"dim must be {X!r} or {Y!r}, got {dim!r}")
    if reducer not in (*_SPATIAL_REDUCERS, *_SPATIAL_MULTISET):
        raise ValueError(
            f"reducer must be one of "
            f"{(*_SPATIAL_REDUCERS, *_SPATIAL_MULTISET)}, got {reducer!r}"
        )
    g = tc.schema.grid
    if g is None:
        raise ValueError("reduce_spatial_tiled needs a GridSpec")
    T = tc.tile
    keys = tc.key_dims
    if reducer in _SPATIAL_MULTISET:
        return _reduce_spatial_multiset(tc, dim, reducer)

    import numpy as np
    import pandas as pd
    from typing import Iterator

    axis = 1 if dim == X else 0
    out_schema = _ddl(
        tc.df.schema, keys,
        "tile_row int, tile_col int, _lp int, _s double, _ss double, "
        "_c bigint, _mn double, _mx double",
    )

    def partials(
        batches: "Iterator[pd.DataFrame]",
    ) -> "Iterator[pd.DataFrame]":
        for pdf in batches:
            if not len(pdf):
                continue
            out = []
            for row in pdf.itertuples(index=False):
                rec = row._asdict()
                a = np.asarray(rec["data"], dtype="float64").reshape(T, T)
                nan = np.isnan(a)
                c = (~nan).sum(axis=axis)
                s = np.nansum(a, axis=axis)
                ss = np.nansum(a * a, axis=axis)
                empty = c == 0
                safe = np.where(
                    (empty[:, None] if axis == 1 else empty[None, :]),
                    0.0, a,
                )
                mn = np.nanmin(safe, axis=axis)
                mx = np.nanmax(safe, axis=axis)
                base = _group_keys(rec, [*keys, "tile_row", "tile_col"])
                for lp in range(T):
                    out.append({
                        **base, "_lp": lp,
                        "_s": float(s[lp]), "_ss": float(ss[lp]),
                        "_c": int(c[lp]),
                        "_mn": None if empty[lp] else float(mn[lp]),
                        "_mx": None if empty[lp] else float(mx[lp]),
                    })
            yield pd.DataFrame(out)

    lines = tc.df.mapInPandas(partials, out_schema)

    if dim == X:
        idx = F.col("tile_row").cast("long") * T + F.col("_lp")
        kept, n_kept = Y, tc.n_y
        coord = F.lit(g.y0) - F.lit(g.resy) * idx
    else:
        idx = F.col("tile_col").cast("long") * T + F.col("_lp")
        kept, n_kept = X, tc.n_x
        coord = F.lit(g.x0) + F.lit(g.resx) * idx
    out = (
        lines.where(idx < n_kept)
        .select(*keys, coord.alias(kept), "_s", "_ss", "_c", "_mn", "_mx")
        .groupBy(*keys, kept)
        .agg(_partial_finish(reducer).alias(VALUE))
    )
    return Cube(out, tc.schema.drop(dim))


def _partial_finish(reducer: str):
    """Finisher over ``(_s, _ss, _c, _mn, _mx)`` partial rows — shared
    by the zonal combine and the spatial-axis reducers; sd/variance use
    the exact-sums sample formula (``reducers.sd_expr`` arithmetic)."""
    n, s, ss = F.sum("_c"), F.sum("_s"), F.sum("_ss")
    return {
        "mean": F.when(n > 0, s / n),
        "sum": F.when(n > 0, s),
        "min": F.min("_mn"),
        "max": F.max("_mx"),
        "count": n,
        # variance numerator clamped at 0 — same cancellation guard as
        # reducers.sd_expr and the _SD_D/_VAR_D oracles (one change, all
        # tiers, ADVICE r10)
        "sd": F.when(n > 1, F.sqrt(
            F.greatest(F.lit(0.0), ss - s * s / n) / (n - F.lit(1)))),
        "variance": F.when(
            n > 1, F.greatest(F.lit(0.0), ss - s * s / n) / (n - F.lit(1))),
    }[reducer]


def _spatial_line_values(tc: TiledCube, dim: str):
    """Stage 1 of the spatial-axis multiset path: per-line non-NULL
    value arrays out of each tile, rows
    ``(*keys, tile_row, tile_col, _lp, _vals)``, one numpy
    ``mapInPandas`` pass. NULL stripping shrinks the
    line-keyed exchange below per-pixel keyed rows."""
    T = tc.tile
    keys = tc.key_dims
    import numpy as np
    import pandas as pd
    from typing import Iterator

    axis = 1 if dim == X else 0
    out_schema = _ddl(
        tc.df.schema, keys,
        "tile_row int, tile_col int, _lp int, _vals array<double>",
    )

    def emit(
        batches: "Iterator[pd.DataFrame]",
    ) -> "Iterator[pd.DataFrame]":
        for pdf in batches:
            if not len(pdf):
                continue
            out = []
            for row in pdf.itertuples(index=False):
                rec = row._asdict()
                a = np.asarray(
                    rec["data"], dtype="float64"
                ).reshape(T, T)
                if axis == 0:
                    a = a.T
                base = _group_keys(rec, [*keys, "tile_row", "tile_col"])
                for lp in range(T):
                    line = a[lp]
                    out.append({
                        **base, "_lp": lp,
                        "_vals": line[~np.isnan(line)].tolist(),
                    })
            yield pd.DataFrame(out)

    return tc.df.mapInPandas(emit, out_schema)


def quantiles_spatial_tiled(
    tc: TiledCube,
    dim: str,
    probabilities: "Sequence[float] | None" = None,
    q: int | None = None,
) -> Cube:
    """openEO ``quantiles`` over a SPATIAL axis natively on tiles — the
    x/y twin of :func:`quantiles_tiled` (long:
    ``operators/reducers.py:quantiles``): the spatial-axis line
    multisets (:func:`_reduce_spatial_multiset`'s stage 1 — compact
    non-NULL value arrays per line, one line-keyed exchange) finish
    with the long operator's exact ``percentile(value, array(...))`` +
    prob explode, so the interpolation rounds identically. Emits a
    long cube with a ``prob`` column, one row per (line, prob)."""
    if (probabilities is None) == (q is None):
        raise ValueError("exactly one of probabilities/q required")
    if q is not None:
        probabilities = [i / q for i in range(1, q)]
    probs = [float(p) for p in probabilities]
    if dim not in (X, Y):
        raise ValueError(f"dim must be {X!r} or {Y!r}, got {dim!r}")
    g = tc.schema.grid
    if g is None:
        raise ValueError("quantiles_spatial_tiled needs a GridSpec")
    T = tc.tile
    keys = tc.key_dims
    lines = _spatial_line_values(tc, dim)
    if dim == X:
        idx = F.col("tile_row").cast("long") * T + F.col("_lp")
        kept, n_kept = Y, tc.n_y
        coord = F.lit(g.y0) - F.lit(g.resy) * idx
    else:
        idx = F.col("tile_col").cast("long") * T + F.col("_lp")
        kept, n_kept = X, tc.n_x
        coord = F.lit(g.x0) + F.lit(g.resx) * idx
    arr = ", ".join(f"{p!r}D" for p in probs)
    out = (
        lines.where(idx < n_kept)
        .select(*keys, coord.alias(kept),
                F.explode_outer("_vals").alias(VALUE))
        .groupBy(*keys, kept)
        .agg(F.expr(f"percentile({VALUE}, array({arr}))").alias("_qs"))
        .select(*keys, kept, F.posexplode("_qs").alias("_i", VALUE))
        .withColumn(
            "prob", F.element_at(F.lit(probs), F.col("_i") + 1)
        )
        .drop("_i")
    )
    return Cube(out, tc.schema.drop(dim))


def _reduce_spatial_multiset(tc: TiledCube, dim: str, reducer: str) -> Cube:
    """median/product over a spatial axis (see
    :func:`reduce_spatial_tiled`): per-line non-NULL value arrays out
    of each tile, one line-keyed exchange of
    COMPACT arrays, explode after the exchange, finish with the long
    reducer expressions."""
    from ..operators.reducers import median_expr, product_expr

    g = tc.schema.grid
    T = tc.tile
    keys = tc.key_dims
    lines = _spatial_line_values(tc, dim)
    if dim == X:
        idx = F.col("tile_row").cast("long") * T + F.col("_lp")
        kept, n_kept = Y, tc.n_y
        coord = F.lit(g.y0) - F.lit(g.resy) * idx
    else:
        idx = F.col("tile_col").cast("long") * T + F.col("_lp")
        kept, n_kept = X, tc.n_x
        coord = F.lit(g.x0) + F.lit(g.resx) * idx
    agg = median_expr(VALUE) if reducer == "median" else product_expr(VALUE)
    # explode AFTER the exchange; explode_outer keeps empty (all-NULL)
    # lines as NULL-value rows so the group exists, like the long
    # groupBy over a dense cube
    out = (
        lines.where(idx < n_kept)
        .select(*keys, coord.alias(kept),
                F.explode_outer("_vals").alias(VALUE))
        .groupBy(*keys, kept)
        .agg(agg.alias(VALUE))
    )
    return Cube(out, tc.schema.drop(dim))


def _fold_time_groups(
    tc: TiledCube, reducer: str, extra_keys: list[str]
) -> DataFrame:
    """Shared engine of reduce_time_tiled / aggregate_temporal_period_
    tiled: the element-wise fold over each (band, *extra_keys, tile)
    group's arrays. Band-less cubes (a band-expression
    reducer's output) group on the remaining keys."""
    band = [BAND] if BAND in tc.schema.dims else []
    return _fold_groups(
        tc, reducer,
        keys=[*band, *extra_keys, "tile_row", "tile_col"],
        sort_field=TIME,
    )


def _fold_groups(
    tc: TiledCube, reducer: str, keys: list[str], sort_field: str,
) -> DataFrame:
    """The element-wise fold over each key-group's arrays, collapsing
    whatever dimension is NOT in ``keys``; ``sort_field`` pins the fold
    order (time for time reductions, band label for band reductions).
    One Arrow-batched ``applyInPandas`` per group: stack the group's
    arrays, one vectorized nan-reduction. ``median`` is the exact
    ``np.nanmedian`` (even counts interpolate the two middle values —
    Spark ``percentile`` and DuckDB ``quantile_cont`` at q=0.5, exact
    on the dyadic fixture); it does not depend on the stack order."""
    import numpy as np
    import pandas as pd

    allowed = ["max", "mean", "median", "min", "sd", "sum", "variance"]
    if reducer not in allowed:
        raise ValueError(
            f"reducer must be one of {allowed}, got {reducer!r}"
        )
    nanop = {"sum": np.nansum, "min": np.nanmin, "max": np.nanmax,
             "median": np.nanmedian}.get(reducer)

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        # pin the stack order by the collapsed axis: nansum's pairwise
        # summation is permutation-sensitive in the last ulp on
        # non-dyadic data — without the sort, a partitioning change
        # upstream could move a sum result
        stack = _tile_stack(pdf.sort_values(sort_field))
        all_nan = np.isnan(stack).all(axis=0)
        if reducer in ("sd", "variance"):
            # exact sums (the long tier's reducers.sd_expr arithmetic);
            # <2 samples → NULL, clamped at 0 against cancellation
            c = (~np.isnan(stack)).sum(axis=0)
            sm = np.nansum(stack, axis=0)
            sq = np.nansum(stack * stack, axis=0)
            with np.errstate(invalid="ignore", divide="ignore"):
                var = np.where(
                    c > 1,
                    np.maximum(0.0, sq - sm * sm / np.maximum(c, 2))
                    / np.maximum(c - 1, 1),
                    np.nan,
                )
                out = np.sqrt(var) if reducer == "sd" else var
        elif reducer == "mean":
            counts = (~np.isnan(stack)).sum(axis=0)
            sums = np.nansum(stack, axis=0)
            with np.errstate(invalid="ignore"):
                out = np.where(counts > 0, sums / np.maximum(counts, 1), np.nan)
        else:
            # nan-reductions warn on all-nan slices; mask them first
            safe = np.where(all_nan[None, :], 0.0, stack)
            out = nanop(safe, axis=0)
            out = np.where(all_nan, np.nan, out)
        return pd.DataFrame([
            {**_group_keys(pdf.iloc[0], keys), "data": _tile_list(out)}
        ])

    return _widen_py(tc, tc.df, keys).groupBy(*keys).applyInPandas(
        fold, _ddl(tc.df.schema, keys, "data array<double>")
    )


def save_tiled(tc: TiledCube, path: str, overviews: tuple = ()) -> str:
    """Persist the tiled layout as partitioned parquet + a metadata
    sidecar — the storage tier, not just an in-memory transform.

    Layout: parquet partitioned by ``band`` (partition pruning for
    band-subset queries — the NDVI shape reads 2 of N bands without
    touching the rest), rows sorted within partitions by (tile_row,
    tile_col) write order as produced. The handle metadata the
    DataFrame can't carry (tile edge, scene dims, grid geometry, dims,
    band order, CRS) lands in ``_tiled_meta.json`` next to the files —
    the corpus sink's manifest discipline: the directory is
    self-describing, a reader needs no side channel.

    ``overviews`` (round 15): COG-style reduced-resolution levels —
    each integer factor ``k`` writes a full save_tiled store (nearest
    covering-downscale snap onto the k·res grid, same origin) under
    ``path/_overviews/L{k}`` (the underscore prefix keeps the level
    dirs invisible to the base parquet scan — verified: Spark's hidden
    file filter skips them during listing). Built levels land in the
    sidecar's ``overviews`` list — the commit point readers trust.
    This mirrors the overview tier the reference pushes its coarse
    loads into (ODC/GDAL overview-reading loader,
    openeo_odc_driver.py:175-202): at 100 TB a 600 m query must never
    scan 10 m tiles, and a k× level is k²× fewer bytes."""
    import json
    import os

    grid = tc.schema.grid
    meta = {
        "tile": tc.tile,
        "n_y": tc.n_y,
        "n_x": tc.n_x,
        "dims": list(tc.schema.dims),
        "bands": list(tc.schema.bands),
        "crs": tc.schema.crs,
        "grid": None
        if grid is None
        else {"x0": grid.x0, "y0": grid.y0, "resx": grid.resx, "resy": grid.resy},
        # the time axis is a PLAN CONSTANT downstream (raster-aware
        # exchange sizing, merge disjointness proofs) — persist it so a
        # stored scene keeps action-free planning (round 14)
        "time_axis": None
        if tc.schema.time_axis is None
        else [t.isoformat() for t in tc.schema.time_axis],
    }
    # base write first: overwrite clears the dir
    tc.df.write.mode("overwrite").partitionBy(BAND).parquet(path)
    # base sidecar BEFORE the level builds (round 16): the levels are
    # built from the JUST-WRITTEN store via load_tiled — a parquet scan
    # of exactly tc's rows — instead of re-executing tc's whole pack
    # lineage once per level (guide §6/§5: the r15 form recomputed the
    # pack N times for N levels).
    with open(os.path.join(path, "_tiled_meta.json"), "w") as fh:
        json.dump(meta, fh)
    built = _build_overview_levels(tc.df.sparkSession, path, overviews)
    if built:
        meta["overviews"] = built
        with open(os.path.join(path, "_tiled_meta.json"), "w") as fh:
            json.dump(meta, fh)
    return path


def _build_overview_levels(spark, path: str, levels, existing=()) -> list:
    """Build overview stores under ``path/_overviews/L{k}`` from the
    STORED base, cascading level k from the COARSEST finer level j
    (just built or already stored, ``existing``) whenever the composed
    winner maps PROVE bit-equality with the direct base→k snap
    (round 16, guide §6): level k via level j reads j²× fewer bytes
    than via the base, and the proof (:func:`_overview_factorizes`
    with r = base_res·k per axis) is the same plan-time numpy gate the
    serving side trusts — cascade by PROOF, never by divisibility
    convention. Levels the proof rejects fall back to the stored base,
    so content is bit-identical either way. Returns the newly built
    level list (sidecar commit is the caller's)."""
    import os

    want = sorted(set(int(k) for k in levels))
    if not want:
        return []
    base = load_tiled(spark, path)
    g = base.schema.grid
    if g is None:
        return []
    built: list = []
    sources: dict = {int(j): None for j in existing}  # factor -> cube
    for k in want:
        if k < 2 or k in sources:
            continue
        src = base
        for j in sorted((j for j in sources if j < k), reverse=True):
            if _overview_cascade_ok(g, base.n_y, base.n_x, j, k):
                if sources[j] is None:
                    sources[j] = load_tiled(
                        spark, os.path.join(path, "_overviews", f"L{j}")
                    )
                src = sources[j]
                break
        ov = _build_overview(src, k, g)
        if ov is None and src is not base:
            ov = _build_overview(base, k)  # defensive fallback
        if ov is None:
            continue
        lv_path = os.path.join(path, "_overviews", f"L{k}")
        save_tiled(ov, lv_path)
        built.append(k)
        sources[k] = None
    return built


def _overview_cascade_ok(g, n_y: int, n_x: int, j: int, k: int) -> bool:
    """True iff building level k FROM level j picks the same base
    pixel for every level-k cell as building it from the base:
    ``w_j[w_{j→k}] == w_{direct}`` on both axes — exactly
    :func:`_overview_factorizes` with the served resolution set to the
    level-k grid."""
    return _overview_factorizes(
        n_x, g.x0, g.resx, j, g.resx * k, descending=False
    ) and _overview_factorizes(
        n_y, g.y0, g.resy, j, g.resy * k, descending=True
    )


def _build_overview(tc: TiledCube, k: int, base_grid=None):
    """Level-k overview cube: the nearest covering-downscale snap of
    ``tc`` onto the k·res grid of ``base_grid`` (default: tc's own
    grid) at the SAME origin — i.e. exactly what
    resample_cube_spatial_tiled would answer for that grid, so a query
    resolved from the overview can be bit-identical to the full-res
    plan. ``tc`` may be the base or a finer stored level (the cascade
    of :func:`_build_overview_levels`, which passes the base grid).
    Returns None when the snap can't express the pair (k ≥ scene is
    fine — a 1-cell level; grid-less cubes have no levels)."""
    g = tc.schema.grid if base_grid is None else base_grid
    if g is None or k < 2:
        return None
    tgt = TiledCube(
        tc.df,
        _dc_replace(tc.schema,
                    grid=GridSpec(g.x0, g.y0, g.resx * k, g.resy * k)),
        tc.tile, tc.n_y, tc.n_x,
    )
    try:
        return resample_cube_spatial_tiled(tc, tgt, "near")
    except TiledRegridUnsupported:
        return None


def ensure_overviews(spark, path: str, levels: tuple = (2, 4, 8)) -> list:
    """Additively build missing overview levels for an EXISTING
    save_tiled store (loads the stored base — no recompute of the
    original scene) and commit them to the sidecar. Returns the
    store's final level list.

    Concurrency: a mkdir lock serializes builders; a loser returns the
    CURRENT sidecar levels immediately instead of waiting — overview
    absence only costs bytes read, never correctness (the loader's
    selection gate falls back to the base store)."""
    import json
    import os

    meta_path = os.path.join(path, "_tiled_meta.json")
    with open(meta_path) as fh:
        meta = json.load(fh)
    have = list(meta.get("overviews") or [])
    want = sorted(set(int(k) for k in levels) - set(have))
    if not want:
        return have
    lock = os.path.join(path, ".ov.lock")
    try:
        os.mkdir(lock)
    except OSError:
        # a crashed builder must not wedge the store forever: steal
        # locks older than 5 minutes (gate-scale builds take seconds)
        import time

        try:
            stale = time.time() - os.path.getmtime(lock) > 300
        except OSError:
            stale = False
        if not stale:
            return have
        try:
            os.rmdir(lock)
            os.mkdir(lock)
        except OSError:
            return have
    try:
        # round 16: shared cascade builder — new levels build from the
        # coarsest PROVEN finer level (stored or just built) instead of
        # always re-reading the full-res base (guide §6).
        have.extend(
            _build_overview_levels(spark, path, want, existing=have)
        )
        meta["overviews"] = sorted(have)
        tmp = f"{meta_path}.tmp.{os.getpid()}"
        with open(tmp, "w") as fh:
            json.dump(meta, fh)
        os.replace(tmp, meta_path)
    finally:
        os.rmdir(lock)
    return sorted(have)


def _overview_factorizes(
    n: int, o: float, res: float, k: int, r: float, descending: bool
) -> bool:
    """True iff resolving a nearest snap base→target THROUGH the
    level-k overview picks the same source pixel for every target cell
    as the direct snap: ``w_k[w_2] == w_direct`` where ``w_k`` is the
    map the overview was built with and ``w_2`` the overview→target
    map the loader would run. Pure plan-time numpy over one axis —
    O(scene width) — so overview use is gated by PROOF, not by a
    divisibility convention (half-pixel rounding breaks naive
    factor-divides-ratio rules: e.g. 10 m→80 m via L4 picks pixel
    k·j+2 ≠ direct's m·i+4)."""
    import numpy as np

    try:
        w_direct = _axis_winner_map(n, o, res, o, r, descending)
        w_k = _axis_winner_map(n, o, res, o, res * k, descending)
        w_2 = _axis_winner_map(len(w_k), o, res * k, o, r, descending)
    except TiledRegridUnsupported:
        return False
    return len(w_2) == len(w_direct) and bool(
        (np.asarray(w_k)[np.asarray(w_2)] == np.asarray(w_direct)).all()
    )


def select_overview_level(
    path: str, grid, n_y: int, n_x: int, resolution: float
):
    """Coarsest stored overview level that resolves a nearest
    resample to ``resolution`` EXACTLY (both axes factorize through
    the level — :func:`_overview_factorizes`), or None to read the
    base store. Reads only the sidecar; zero Spark jobs."""
    import json
    import os

    if grid is None:
        return None
    try:
        with open(os.path.join(path, "_tiled_meta.json")) as fh:
            levels = json.load(fh).get("overviews") or []
    except (OSError, ValueError):
        return None
    r = float(resolution)
    for k in sorted((int(k) for k in levels), reverse=True):
        if r < grid.resx * k or r < grid.resy * k:
            continue  # level coarser than the target cannot serve it
        if _overview_factorizes(
            n_x, grid.x0, grid.resx, k, r, descending=False
        ) and _overview_factorizes(
            n_y, grid.y0, grid.resy, k, r, descending=True
        ):
            return k
    return None


def load_tiled(spark, path: str) -> TiledCube:
    """Read a :func:`save_tiled` directory back into a TiledCube — the
    sidecar restores everything the parquet schema can't express. Band/
    tile predicates applied by the caller prune at the scan (band is a
    hive partition column; tile_row/tile_col carry parquet min/max)."""
    import json
    import os

    from .cube import CubeSchema, GridSpec

    with open(os.path.join(path, "_tiled_meta.json")) as fh:
        meta = json.load(fh)
    g = meta.get("grid")
    ax = meta.get("time_axis")
    if ax is not None:
        from datetime import datetime

        ax = tuple(datetime.fromisoformat(t) for t in ax)
    schema = CubeSchema(
        dims=tuple(meta["dims"]),
        bands=tuple(meta["bands"]),
        crs=meta.get("crs"),
        grid=None if g is None else GridSpec(**g),
        time_axis=ax,
        time_extent=(ax[0], ax[-1]) if ax else None,
    )
    df = spark.read.parquet(path)
    return TiledCube(df, schema, meta["tile"], meta["n_y"], meta["n_x"])


def filter_bbox_tiled(
    tc: TiledCube, west: float, east: float, south: float, north: float
) -> Cube:
    """Spatial slice on the tiled layout with TILE-level pruning: a
    conservative tile_row/tile_col range predicate derived from the
    bbox drops whole tiles BEFORE any array is touched — on the stored
    layout those are plain int columns, so the predicate reaches the
    parquet scan as row-group min/max pruning (pytest pins
    PushedFilters) — then the surviving tiles expand and the exact
    pixel-level between-predicate applies (correctness never depends
    on the pruning arithmetic; the coarse ranges only have to be a
    superset). Returns a long Cube, same output as
    ``filter_bbox(from_tiled(tc), ...)``.

    At 10^12 px this is the reason the layout exists alongside byte
    packing: a city-sized bbox over a continental scene reads the
    tiles it intersects, not the scene."""
    import math

    g = tc.schema.grid
    T = tc.tile
    c_lo = math.floor((west - g.x0) / g.resx / T)
    c_hi = math.floor((east - g.x0) / g.resx / T)
    r_lo = math.floor((g.y0 - north) / g.resy / T)
    r_hi = math.floor((g.y0 - south) / g.resy / T)
    pruned = tc.df.where(
        F.col("tile_col").between(c_lo, c_hi)
        & F.col("tile_row").between(r_lo, r_hi)
    )
    cube = from_tiled(TiledCube(pruned, tc.schema, T, tc.n_y, tc.n_x))
    return cube.with_df(
        cube.df.where(
            F.col(X).between(float(west), float(east))
            & F.col(Y).between(float(south), float(north))
        )
    )


def mask_tiled(
    data_tc: TiledCube,
    mask_tc: TiledCube,
    replacement: float | None = None,
) -> TiledCube:
    """openEO ``mask`` natively on tiles — keep data where the mask is
    0, masked pixels become NULL or the scalar ``replacement``; a NULL
    mask element masks (the reference's logical_not(nan) = False), and
    a missing mask TILE masks its whole footprint (≙ the long plan's
    left join finding no rows). Multi-band masks align per band over
    the dim intersection; single-band masks min-fold away band and any
    mask dim the data lacks — BOTH rules copied from the long operator
    so the tiers cannot diverge (round-10 parity tests pin all four
    time-presence combinations and the multiband case).

    Plan: one tile-keyed aggregation for the band-drop (pass-through
    rows for 1-band masks) + ONE left equi-join on (time, tile) + a
    zip_with — join key count is tiles, not pixels, and the mask side
    is tile²× smaller than the long plan's per-pixel mask rows."""
    _require_same_grid("mask_tiled", data_tc, mask_tc)
    T = data_tc.tile
    if mask_tc.tile != T:
        # same grid, different tile edges (e.g. a stored scene written
        # with another layout): adapt the mask side through the
        # fragment repack — one exchange of the (tile²× smaller) mask
        mask_tc = retile(mask_tc, T)
    T2 = T * T
    # key rule pinned to the long operator (operators/mask.py, parity
    # tests in test_round8_ops/test_round10): multi-band masks align
    # per band over the dim INTERSECTION; single-band masks min-fold
    # away band plus any mask dim the data lacks — a temporal mask
    # over time-less data min-folds across timestamps, a time-less
    # mask over temporal data broadcasts over time (join key omits
    # time). Round 9 raised on time parity mismatch here, wrongly
    # diverging from the long tier in both directions.
    mask_is_multiband = (
        BAND in mask_tc.schema.dims and len(mask_tc.schema.bands) > 1
    )
    if mask_is_multiband:
        keys = [
            d for d in (BAND, TIME)
            if d in data_tc.schema.dims and d in mask_tc.schema.dims
        ]
        m = mask_tc.df.select(
            *keys, "tile_row", "tile_col", F.col("data").alias("_m")
        )
    else:
        keys = (
            [TIME]
            if TIME in data_tc.schema.dims and TIME in mask_tc.schema.dims
            else []
        )
        # band-drop (and fold of any mask dim the data lacks):
        # element-wise min across the mask's rows per group (skip
        # NULLs; all-NULL stays NULL) — same merge as reduce_time_tiled
        drop = (
            f"aggregate(collect_list(data), "
            f"array_repeat(CAST(NULL AS DOUBLE), {T2}), "
            "(acc, d) -> zip_with(acc, d, "
            "(a, v) -> CASE WHEN v IS NULL THEN a WHEN a IS NULL THEN v "
            "WHEN v < a THEN v ELSE a END))"
        )
        m = (
            _widen_df(mask_tc, mask_tc.df,
                      [*keys, "tile_row", "tile_col"])
            .groupBy(*keys, "tile_row", "tile_col")
            .agg(F.expr(drop).alias("_m"))
        )
    repl = "CAST(NULL AS DOUBLE)" if replacement is None else repr(
        float(replacement)
    )
    # a data tile with no mask tile gets an all-NULL mask array (the
    # left join's NULL would otherwise null the whole zip_with result
    # instead of masking per element)
    apply_mask = (
        f"zip_with(data, coalesce(_m, array_repeat(CAST(NULL AS DOUBLE), "
        f"{T2})), (v, mv) -> CASE WHEN mv = 0.0 AND mv IS NOT NULL "
        f"THEN v ELSE {repl} END)"
    )
    d_df, m_df = _widened_join_sides(
        data_tc, data_tc.df, m, [*keys, "tile_row", "tile_col"]
    )
    df = d_df.join(m_df, [*keys, "tile_row", "tile_col"], "left").select(
        *[
            F.expr(apply_mask).alias("data") if c == "data" else F.col(c)
            for c in data_tc.df.columns
        ]
    )
    return TiledCube(
        df, data_tc.schema, T, data_tc.n_y, data_tc.n_x
    )


def normalized_difference_tiled(
    tc: TiledCube,
    band_a: str = "B08",
    band_b: str = "B04",
    out_band: str = "ndvi",
) -> TiledCube:
    """Per-pixel normalized difference (a−b)/(a+b) natively on tiles:
    ONE equi-join of the two band slices on (time, tile) and one
    zip_with over the packed arrays — NULL where either side is NULL
    or the sum is 0, exactly the long-format
    ``normalized_difference_cols`` semantics. The join key count is
    tiles, not pixels (tile²× smaller build side than the long-format
    band pivot), and the arithmetic stays JVM-side."""
    keys = [d for d in (TIME,) if d in tc.schema.dims]
    a = tc.df.where(F.col(BAND) == band_a).select(
        *keys, "tile_row", "tile_col", F.col("data").alias("_a")
    )
    b = tc.df.where(F.col(BAND) == band_b).select(
        *keys, "tile_row", "tile_col", F.col("data").alias("_b")
    )
    nd = F.expr(
        "zip_with(_a, _b, (x, y) -> (x - y) / nullif(x + y, CAST(0.0 AS DOUBLE)))"
    )
    a, b = _widened_join_sides(tc, a, b, [*keys, "tile_row", "tile_col"])
    df = a.join(b, [*keys, "tile_row", "tile_col"]).select(
        F.lit(out_band).alias(BAND),
        *keys,
        "tile_row",
        "tile_col",
        nd.alias("data"),
    )
    return TiledCube(
        df, tc.schema.with_bands((out_band,)), tc.tile, tc.n_y, tc.n_x
    )


def apply_kernel_tiled_layout(
    tc: TiledCube,
    kernel: Sequence[Sequence[float]],
    factor: float = 1.0,
    border: str | int = 0,
) -> TiledCube:
    """2-D convolution natively on tiles (border ``constant 0`` — the
    reference default) via HALO-STRIP exchange: every tile ships to
    itself in full and to each of its 8 neighbors only the (ry, rx)-
    wide strip that neighbor's stencil can actually read — shuffle
    volume is (1 + 2(ry+rx)/T + 4·ry·rx/T²)× the raster (≈1.02× at
    r=1, T=256; round 9 shipped whole tiles 9× regardless of radius).
    One Arrow-batched ``applyInPandas`` per target tile lays the ≤9
    pieces on a (T+2ry)×(T+2rx) canvas and runs the stencil as k²
    shifted slice-multiply-adds in numpy.

    Semantics match the long-format :func:`~..operators.kernel.
    apply_kernel` exactly (cross-parity pytest): NULL neighbors and
    out-of-scene cells contribute 0, NULL centers stay NULL, the result
    scales by ``factor``. Kernel radius must fit the halo (≤ tile).

    This is the 100 TB kernel plan: the long-format scatter shuffles k²
    weighted rows per pixel, the gather two full exchanges — here the
    exchange is barely more than one pass of the raster regardless of
    k, and the stencil itself is BLAS-free contiguous numpy. Strip
    extraction is slice()/strided-transform on the packed arrays,
    scan-fused before the exchange."""
    import numpy as np
    import pandas as pd

    if border not in (0, "0", "constant",
                      "replicate", "reflect", "reflect_pixel", "wrap"):
        raise NotImplementedError(
            f"apply_kernel_tiled_layout: unknown border {border!r}"
        )
    wrap_mode = border == "wrap"
    if wrap_mode:
        # Partial edge tiles are native since round 13: crossing strips
        # slice the last VALID rows/cols (not the padding) and land
        # adjacent to the target's valid region (_halo_pieces/_halo_
        # canvas wrap geometry). The residual demotion is a radius
        # larger than the last tile's valid span (the crossing strip
        # would straddle two source tiles) or than the scene itself
        # (multi-wrap reads) — rare shapes; the long scatter handles
        # them (recorded demotion).
        kh_, kw_ = len(kernel), len(kernel[0])
        ry_, rx_ = kh_ // 2, kw_ // 2
        vh_last = tc.n_y - (tc.n_y - 1) // tc.tile * tc.tile
        vw_last = tc.n_x - (tc.n_x - 1) // tc.tile * tc.tile
        if ry_ > vh_last or rx_ > vw_last or 2 * ry_ >= tc.n_y \
                or 2 * rx_ >= tc.n_x:
            raise NotImplementedError(
                "apply_kernel_tiled_layout: wrap radius exceeds the "
                "last tile's valid span (or the scene) — long scatter"
            )
    edge_mode = border in ("replicate", "reflect", "reflect_pixel")
    kh, kw = len(kernel), len(kernel[0])
    ry, rx = kh // 2, kw // 2
    T = tc.tile
    if max(ry, rx) > T:
        raise ValueError(
            f"kernel radius ({max(ry, rx)}) exceeds tile ({T}); "
            "halo exchange covers one neighbor ring"
        )
    if TIME in tc.schema.dims:
        keys = [BAND, TIME]
    else:
        keys = [BAND]
    kmat = np.array([[float(w) for w in row] for row in kernel])
    fac = float(factor)
    pieces = _halo_pieces(tc, keys, ry, rx, wrap=wrap_mode)

    out_fields = ", ".join(
        f"{k} {'string' if k == BAND else 'timestamp'}" for k in keys
    )
    out_schema = (
        f"{out_fields}, tile_row int, tile_col int, data array<double>"
    )

    n_y_s, n_x_s = tc.n_y, tc.n_x

    def _remap(g, m_idx):
        """Out-of-scene index remap — operators/kernel._remap_idx's
        numpy twin (same three modes, same arithmetic)."""
        if border == "replicate":
            return np.clip(g, 0, m_idx)
        if border == "reflect":
            g = np.where(g < 0, -g - 1, g)
            return np.where(g > m_idx, 2 * m_idx + 1 - g, g)
        g = np.where(g < 0, -g, g)  # reflect_pixel
        return np.where(g > m_idx, 2 * m_idx - g, g)

    def stencil(pdf: pd.DataFrame) -> pd.DataFrame:
        if wrap_mode:
            r0w = pdf.iloc[0]
            vh_t = min(T, n_y_s - int(r0w["_tr"]) * T)
            vw_t = min(T, n_x_s - int(r0w["_tc"]) * T)
            canvas = _halo_canvas(pdf, T, ry, rx, vh_t, vw_t)
        else:
            canvas = _halo_canvas(pdf, T, ry, rx)
        if canvas is None:  # halo-only group: target tile doesn't exist
            return pd.DataFrame(
                columns=[*keys, "tile_row", "tile_col", "data"]
            )
        if edge_mode:
            # clamp/mirror borders: re-index out-of-scene canvas cells
            # to their in-scene images BY INDEX (never by NaN — a NULL
            # data cell must stay NULL and contribute 0). With r ≤ T
            # the image row/col is always on this canvas. The center
            # NULL mask below reads the ORIGINAL canvas.
            row0 = pdf.iloc[0]
            g_r = int(row0["_tr"]) * T - ry + np.arange(T + 2 * ry)
            g_c = int(row0["_tc"]) * T - rx + np.arange(T + 2 * rx)
            rmap = _remap(g_r, n_y_s - 1) - (g_r[0])
            cmap = _remap(g_c, n_x_s - 1) - (g_c[0])
            # reads within r of a VALID output pixel (g <= scene edge
            # + r) always remap onto this canvas for r <= T — fail
            # LOUDLY if that precondition ever loosens instead of
            # clamping to a wrong-value read (ADVICE r11). Positions
            # beyond that (partial-tile padding, NaN-masked via the
            # center block below) may stray off-canvas; the clip for
            # them is value-irrelevant.
            live_r = g_r <= n_y_s - 1 + ry
            live_c = g_c <= n_x_s - 1 + rx
            if ((live_r & ((rmap < 0) | (rmap >= canvas.shape[0]))).any()
                    or (live_c & ((cmap < 0)
                                  | (cmap >= canvas.shape[1]))).any()):
                raise AssertionError(
                    "apply_kernel_tiled_layout: border remap of a live "
                    f"read left the halo canvas (r={ry},{rx} T={T})"
                )
            filled = np.nan_to_num(
                canvas[np.ix_(np.clip(rmap, 0, canvas.shape[0] - 1),
                              np.clip(cmap, 0, canvas.shape[1] - 1))],
                nan=0.0,
            )
        else:
            filled = np.nan_to_num(canvas, nan=0.0)
        acc = np.zeros((T, T))
        for dy in range(kh):
            for dx in range(kw):
                w = kmat[dy, dx]
                if w == 0.0:
                    continue
                # true convolution, as the long apply_kernel and
                # scipy.ndimage.convolve: out[c] += k[o] * in[c − o]
                # with o = (dy − ry, dx − rx); canvas row = pixel + ry
                sy, sx = 2 * ry - dy, 2 * rx - dx
                acc += w * filled[sy:sy + T, sx:sx + T]
        acc *= fac
        center = canvas[ry:ry + T, rx:rx + T]
        acc[np.isnan(center)] = np.nan
        if wrap_mode:
            # crossed wrap strips overwrite padding positions of the
            # center block with real scene rows — re-null the padding
            # cells explicitly so the tiled padding discipline holds
            acc[vh_t:, :] = np.nan
            acc[:, vw_t:] = np.nan
        row0 = pdf.iloc[0]
        out = {k: [row0[k]] for k in keys}
        out["tile_row"] = [int(row0["_tr"])]
        out["tile_col"] = [int(row0["_tc"])]
        out["data"] = [_tile_list(acc)]
        return pd.DataFrame(out)

    df = _widen_py(tc, pieces, [*keys, "_tr", "_tc"]) \
        .groupBy(*keys, "_tr", "_tc").applyInPandas(
        stencil, out_schema
    )
    return TiledCube(df, tc.schema, T, tc.n_y, tc.n_x)


def _halo_pieces(tc: TiledCube, keys: list[str], ry: int, rx: int,
                 wrap: bool = False):
    """Halo-strip emission shared by every tile-native neighborhood op
    (:func:`apply_kernel_tiled_layout`, :func:`radar_mask_tiled`): each
    tile ships to itself in full and to each of its 8 neighbors ONLY
    the (ry, rx)-wide strip that neighbor's stencil can read — shuffle
    volume (1 + 2(ry+rx)/T + 4·ry·rx/T²)× the raster. Row-major
    packing: top/bottom strips are contiguous ``slice()``s; left/right
    and corner strips are strided row slices. Off-scene targets are
    pruned before the exchange. Returns rows
    ``(*keys, _tr, _tc, _pr, _pc, data)`` — group by (keys, _tr, _tc)
    and reassemble with :func:`_halo_canvas`."""
    T = tc.tile
    max_tr = (tc.n_y - 1) // T
    max_tc = (tc.n_x - 1) // T
    vh_last = tc.n_y - max_tr * T  # valid rows in the last tile row
    vw_last = tc.n_x - max_tc * T

    def rows_cols(r0, nr: int, c0, nc: int) -> str:
        """SQL for the (nr x nc) sub-block at (r0, c0), row-major;
        r0/c0 may be SQL expressions (wrap's conditional offsets)."""
        if nc == T:
            return f"slice(data, ({r0}) * {T} + 1, {nr * T})"
        return (
            f"flatten(transform(sequence({r0}, ({r0}) + {nr - 1}), "
            f"r -> slice(data, r * {T} + ({c0}) + 1, {nc})))"
        )

    entries = ["struct(0 AS dr, 0 AS dc, 0 AS wr, 0 AS wc, data AS piece)"]
    for dr in (-1, 0, 1):
        for dc in (-1, 0, 1):
            if (dr, dc) == (0, 0):
                continue
            nr = ry if dr != 0 else T
            nc = rx if dc != 0 else T
            if nr == 0 or nc == 0:
                continue  # 1-D stencils need no strips on that axis
            # shipping toward dr=+1 means the TARGET below reads this
            # tile's BOTTOM rows; toward dr=-1 its TOP rows (same for
            # columns)
            r0: object = T - ry if dr == 1 else 0
            c0: object = T - rx if dc == 1 else 0
            wr_e, wc_e = "0", "0"
            if wrap:
                # crossing the scene boundary (round 13, partial
                # tilings): a dr=+1 strip leaving the LAST tile row
                # wraps to row 0 and must carry the last VALID rows
                # (vh_last − ry .. vh_last), not the padding tail; a
                # dr=−1 strip leaving row 0 keeps its slice but lands
                # adjacent to the target's valid region (wr flag →
                # placement in _halo_canvas)
                if dr == 1:
                    r0 = (f"CASE WHEN tile_row = {max_tr} "
                          f"THEN {vh_last - ry} ELSE {T - ry} END")
                    wr_e = f"CASE WHEN tile_row = {max_tr} THEN 1 ELSE 0 END"
                elif dr == -1:
                    wr_e = "CASE WHEN tile_row = 0 THEN 1 ELSE 0 END"
                if dc == 1:
                    c0 = (f"CASE WHEN tile_col = {max_tc} "
                          f"THEN {vw_last - rx} ELSE {T - rx} END")
                    wc_e = f"CASE WHEN tile_col = {max_tc} THEN 1 ELSE 0 END"
                elif dc == -1:
                    wc_e = "CASE WHEN tile_col = 0 THEN 1 ELSE 0 END"
            entries.append(
                f"struct({dr} AS dr, {dc} AS dc, {wr_e} AS wr, "
                f"{wc_e} AS wc, {rows_cols(r0, nr, c0, nc)} AS piece)"
            )
    drdc = F.expr("explode(array(" + ", ".join(entries) + "))")
    if wrap:
        # periodic boundary: off-scene targets wrap to the opposite
        # edge tile
        tr = F.pmod(F.col("tile_row") + F.col("_n.dr"), F.lit(max_tr + 1))
        tcl = F.pmod(F.col("tile_col") + F.col("_n.dc"), F.lit(max_tc + 1))
    else:
        tr = F.col("tile_row") + F.col("_n.dr")
        tcl = F.col("tile_col") + F.col("_n.dc")
    out = tc.df.select(
        *keys, "tile_row", "tile_col", drdc.alias("_n")
    ).select(
        *keys,
        tr.alias("_tr"),
        tcl.alias("_tc"),
        (-F.col("_n.dr")).alias("_pr"),  # piece offset relative to target
        (-F.col("_n.dc")).alias("_pc"),
        F.col("_n.wr").alias("_wr"),     # crossed the scene boundary
        F.col("_n.wc").alias("_wc"),
        F.col("_n.piece").alias("data"),
    )
    if wrap:
        return out
    return out.where(
        F.col("_tr").between(0, max_tr) & F.col("_tc").between(0, max_tc)
    )


def _halo_canvas(pdf, T: int, ry: int, rx: int,
                 vh: int | None = None, vw: int | None = None):
    """Lay a (keys, _tr, _tc) group's halo pieces on the
    (T+2ry)×(T+2rx) canvas (NaN where no neighbor exists). Returns
    None for halo-only groups (the target tile itself doesn't exist).

    Wrap pieces that CROSSED the scene boundary (``_wr``/``_wc`` set)
    land adjacent to the target's VALID region (row base ``ry + vh``
    instead of ``ry + T`` for a bottom strip on a partial tile) and
    are written LAST so real wrapped scene rows overwrite the NaN
    padding that non-crossing pieces carry in the same positions."""
    import numpy as np

    if not ((pdf["_pr"] == 0) & (pdf["_pc"] == 0)).any():
        return None
    has_flags = "_wr" in pdf.columns
    canvas = np.full((T + 2 * ry, T + 2 * rx), np.nan)
    rows = list(pdf.iterrows())
    if has_flags:
        rows.sort(key=lambda kv: int(kv[1]["_wr"]) + int(kv[1]["_wc"]))
    for _, r in rows:
        pr, pc = int(r["_pr"]), int(r["_pc"])
        crossed_r = has_flags and int(r["_wr"]) == 1
        crossed_c = has_flags and int(r["_wc"]) == 1
        nr = T if pr == 0 else ry
        nc = T if pc == 0 else rx
        arr = np.asarray(r["data"], dtype="float64").reshape(nr, nc)
        # piece origin on the halo canvas: a pr=-1 strip sits above
        # the center block, pr=+1 below (same for columns); a crossed
        # bottom/right strip sits right after the valid span
        y_plus = ry + (vh if crossed_r and vh is not None else T)
        x_plus = rx + (vw if crossed_c and vw is not None else T)
        y0 = 0 if pr == -1 else (ry if pr == 0 else y_plus)
        x0 = 0 if pc == -1 else (rx if pc == 0 else x_plus)
        canvas[y0:y0 + nr, x0:x0 + nc] = arr
    return canvas


def radar_mask_tiled(
    tc: TiledCube,
    foreshortening_th: float,
    layover_th: float,
    orbit_direction: str = "ASC",
) -> TiledCube:
    """SAR layover/foreshortening/shadow masks natively on tiles — the
    long ``operators/sar.py:radar_mask`` (reference
    ``openeo_odc_driver.py:1426-1504``) through the halo-strip exchange:
    the DEM stencil at output pixel (cy, cx) reads
    dem[cy−1..cy+1, cx−1..cx+1 : step 2], so each tile needs a radius-2
    halo — :func:`_halo_pieces` ships ~(1 + 8/T)× the DEM band once,
    versus the long plan's two window exchanges over per-pixel rows.

    Per target tile the finite differences, atan slope, round-9
    quantization (the same 1-ulp absorber the long/oracle pair relies
    on) and the three threshold masks are one vectorized numpy pass;
    the LIA scene mean arrives as a broadcast scalar exactly like the
    long plan's broadcast join. Border rows/cols (first, last two) are
    0 as in the reference's zero-initialized output; NULL stencils
    (NaN corners) also emit 0 through the NaN-comparison rule — both
    matching the long operator's left-join + coalesce."""
    import math as _math

    import numpy as np
    import pandas as pd

    from ..operators.sar import MASK_BANDS

    grid = tc.schema.grid
    if grid is None:
        raise ValueError("radar_mask_tiled needs a GridSpec")
    if BAND not in tc.schema.dims:
        raise ValueError("radar_mask_tiled needs DEM and LIA bands")
    heading = _math.radians(-12.5 if orbit_direction == "ASC" else 12.5)
    dx, dy = grid.resx, -grid.resy
    dx_p, dy_p = dx * _math.tan(heading), dy * _math.tan(heading)
    drg = 2 * _math.sqrt(dx_p ** 2 + dx ** 2)
    rg_sign = -1.0 if heading >= 0 else 1.0
    fth, lth = float(foreshortening_th), float(layover_th)
    T, n_y, n_x = tc.tile, tc.n_y, tc.n_x
    keys = [d for d in tc.key_dims if d != BAND]

    dem = TiledCube(
        tc.df.where(F.col(BAND) == "DEM").drop(BAND),
        tc.schema.drop(BAND), T, n_y, n_x,
    )
    # scene-mean incidence angle: per-tile (Σ, n) folds, one scalar agg,
    # broadcast into every piece row (the long plan's broadcast join)
    lia = (
        tc.df.where(F.col(BAND) == "LIA")
        .select(
            F.expr(
                "aggregate(data, named_struct('s', CAST(0.0 AS DOUBLE), "
                "'c', CAST(0 AS BIGINT)), (acc, v) -> CASE WHEN v IS NULL "
                "THEN acc ELSE named_struct('s', acc.s + v, 'c', acc.c + 1) "
                "END)"
            ).alias("_p")
        )
        .agg((F.sum("_p.s") / F.sum("_p.c")).alias("_lia"))
    )
    pieces = _halo_pieces(dem, keys, 2, 2).join(F.broadcast(lia))

    out_schema = f"{BAND} string, " + _ddl(
        tc.df.schema, keys, "tile_row int, tile_col int, data array<double>"
    )

    def masks(pdf: pd.DataFrame) -> pd.DataFrame:
        canvas = _halo_canvas(pdf, T, 2, 2)
        if canvas is None:
            return pd.DataFrame(
                columns=[BAND, *keys, "tile_row", "tile_col", "data"]
            )
        # stencil for output (r, c): corners dem[cy±1, cx±1] with the
        # ±1 row/col offsets of the long op's (yi, xi) → (yi+1, xi+1)
        # relabeling; canvas center block starts at offset 2
        d00 = canvas[1:T + 1, 1:T + 1]
        d02 = canvas[1:T + 1, 3:T + 3]
        d20 = canvas[3:T + 3, 1:T + 1]
        d22 = canvas[3:T + 3, 3:T + 3]
        with np.errstate(invalid="ignore"):
            h_rg_0 = d00 + (d20 - d00) / (2 * dy) * (dy - dy_p)
            h_rg_2 = d02 + (d22 - d02) / (2 * dy) * (dy + dy_p)
            # quantize like the long tier's F.round(_, 9) (HALF_UP) so
            # mask bits are tier-stable before thresholding. np.round is
            # half-EVEN on the scaled binary value — emulate HALF_UP
            # sign-aware instead (ADVICE r11). Residual: Spark rounds
            # the shortest-repr DECIMAL string (BigDecimal.valueOf);
            # both tiers only diverge when |fdeg·1e9| sits exactly on a
            # representable binary .5 whose decimal repr disagrees —
            # and then only if that 1e-9 flips a threshold compare.
            raw = np.degrees(np.arctan((h_rg_2 - h_rg_0) / drg)) * rg_sign
            fdeg = np.sign(raw) * np.floor(np.abs(raw) * 1e9 + 0.5) / 1e9
            row0 = pdf.iloc[0]
            tr, tcl = int(row0["_tr"]), int(row0["_tc"])
            lia_v = float(row0["_lia"])
            # the long op keeps stencils with xi+2 < max_xi AND
            # yi+2 < max_yi only (reference slices stop at L-2):
            # output index cy=yi+1 ∈ [1, n-3], plus NaN → mask 0
            cy = tr * T + np.arange(T)[:, None]
            cx = tcl * T + np.arange(T)[None, :]
            valid = (
                (cy >= 1) & (cy <= n_y - 3) & (cx >= 1) & (cx <= n_x - 3)
                & ~np.isnan(fdeg)
            )
            pos = valid & (fdeg > 0)
            fs = np.where(pos & (fdeg < lia_v), fdeg, 0.0) / lia_v
            lo = np.where(pos & (fdeg > lia_v), fdeg, 0.0) / lia_v
            out_arrays = {
                "layover": np.where(valid & (lo > lth), 1.0, 0.0),
                "foreshortening": np.where(valid & (fs > fth), 1.0, 0.0),
                "shadow": np.where(
                    valid & (fdeg < 0) & (np.abs(fdeg) > 90 - lia_v),
                    1.0, 0.0,
                ),
            }
        # out-of-scene padding stays NULL so from_tiled drops it (the
        # masks are 0/1 elsewhere, so NaN marks exactly the padding)
        pad = (cy >= n_y) | (cx >= n_x)
        rows = []
        for b in MASK_BANDS:
            out_arrays[b][pad] = np.nan
            rows.append({
                BAND: b, **{k: row0[k] for k in keys},
                "tile_row": tr, "tile_col": tcl,
                "data": _tile_list(out_arrays[b]),
            })
        return pd.DataFrame(rows)

    df = _widen_py(tc, pieces, [*keys, "_tr", "_tc"]) \
        .groupBy(*keys, "_tr", "_tc").applyInPandas(
        masks, out_schema
    )
    from dataclasses import replace as _dc_replace

    return TiledCube(
        df, _dc_replace(tc.schema, bands=MASK_BANDS), T, n_y, n_x
    )


# ---- round 9: the rest of the operator surface on tiles ----------------


def filter_bands_tiled(tc: TiledCube, bands: Sequence[str]) -> TiledCube:
    """``filter_bands`` natively on tiles — a pure row predicate on the
    band key (mirrors ``operators/filters.py:filter_bands``; reference
    ``openeo_odc_driver.py:1031-1034``). On the stored layout band is a
    hive partition column (:func:`save_tiled`), so this prunes whole
    directories before any tile array is read — the cheapest possible
    band subset at 10^12 px."""
    bands = tuple(bands)
    return TiledCube(
        tc.df.where(F.col(BAND).isin(list(bands))),
        tc.schema.with_bands(bands),
        tc.tile, tc.n_y, tc.n_x,
    )


def filter_temporal_tiled(tc: TiledCube, start: str, end: str) -> TiledCube:
    """``filter_temporal`` natively on tiles — half-open [start, end),
    exactly the long operator's contract (``operators/filters.py:30``;
    the reference subtracts 1 ms from the end,
    ``load_odc_collection.py:78-79``). A sargable row predicate on the
    time key: tile arrays are untouched, and on the stored layout the
    predicate reaches parquet row-group min/max pruning. The plan-time
    ``time_extent`` / ``time_axis`` metadata narrows the same way as the
    long path, so merge-disjointness proofs keep working on tiles."""
    from datetime import datetime, timedelta

    if TIME not in tc.schema.dims:
        raise ValueError("filter_temporal_tiled needs a time dimension")
    df = tc.df.where(
        (F.col(TIME) >= F.lit(start).cast("timestamp"))
        & (F.col(TIME) < F.lit(end).cast("timestamp"))
    )
    lo = datetime.fromisoformat(str(start))
    hi = datetime.fromisoformat(str(end)) - timedelta(microseconds=1)
    if tc.schema.time_extent is not None:
        olo, ohi = tc.schema.time_extent
        lo, hi = max(lo, olo), min(hi, ohi)
    schema = tc.schema.with_time_extent((lo, hi))
    if tc.schema.time_axis is not None:
        schema = schema.with_time_axis(
            tuple(t for t in tc.schema.time_axis if lo <= t <= hi)
        )
    return TiledCube(df, schema, tc.tile, tc.n_y, tc.n_x)


def apply_tiled(tc: TiledCube, fn) -> TiledCube:
    """openEO ``apply`` (element-wise math, SURVEY §2.4) natively on
    tiles: one ``transform`` lambda over each packed array, reusing the
    SAME Column builders the long path uses (``operators/math.py``
    ``*_cols`` — pass e.g. ``lambda v: clip_cols(add_cols(v, 1), 0, 2)``)
    so the arithmetic cannot drift between tiers. Zero exchanges — a
    scan-fused projection; the lambda body is the identical Catalyst
    expression tree the long ``apply_unary`` builds over the value
    column.

    ``fn`` must be a ONE-argument callable (PySpark hands a 2-arg
    lambda the element index as its second argument — the documented
    arity trap). Results cast to double to keep the ``array<double>``
    layout; boolean-producing processes (comparisons) store 0.0/1.0,
    matching the long tier's double value column."""
    out = F.transform("data", lambda v: fn(v).cast("double"))
    return TiledCube(
        tc.df.withColumn("data", out),
        tc.schema, tc.tile, tc.n_y, tc.n_x,
    )


def merge_cubes_tiled(
    tc1: TiledCube,
    tc2: TiledCube,
    overlap_resolver=None,
) -> TiledCube:
    """``merge_cubes`` natively on tiles — the long operator's decision
    table (``operators/merge.py``; reference
    ``openeo_odc_driver.py:1134-1291``) on the packed layout:

    1. disjoint band sets → band-axis concat: ``unionByName``, **zero
       shuffle** (tile arrays never open).
    2. same bands, disjoint times (plan-time extent/axis proof or a
       tiny key-overlap probe — the long helper, reused) → time concat,
       zero shuffle.
    3. overlapping keys + resolver → ONE full-outer equi-join keyed by
       (band[, time], tile) — tile²× fewer join keys than the long
       per-pixel join — and a ``zip_with`` whose lambda is the SAME
       Column builder the long resolver path uses. A tile missing on
       one side resolves element-wise against NULL (the long full-outer
       row's NULL partner), via an all-NULL stand-in array.
    4. partially-common bands → error (unsupported in the reference).
    """
    from ..operators.merge import _times_disjoint

    _require_same_grid("merge_cubes_tiled", tc1, tc2, check_scene=True)
    if tc1.tile != tc2.tile:
        # same scene, different tile edges (e.g. two stores written with
        # different layouts): adapt the SECOND side through the
        # fragment repack — one exchange of cube2 only
        tc2 = retile(tc2, tc1.tile)
    if set(tc1.schema.dims) != set(tc2.schema.dims):
        raise ValueError("merge_cubes_tiled: dimension mismatch")
    b1, b2 = set(tc1.schema.bands), set(tc2.schema.bands)
    e1, e2 = tc1.schema.time_extent, tc2.schema.time_extent
    merged_extent = (
        (min(e1[0], e2[0]), max(e1[1], e2[1]))
        if e1 is not None and e2 is not None else None
    )
    a1, a2 = tc1.schema.time_axis, tc2.schema.time_axis
    merged_axis = (
        tuple(sorted(set(a1) | set(a2)))
        if a1 is not None and a2 is not None else None
    )
    schema = (
        tc1.schema.with_bands(
            tuple(dict.fromkeys((*tc1.schema.bands, *tc2.schema.bands)))
        )
        .with_time_extent(merged_extent)
        .with_time_axis(merged_axis)
    )
    if b1 and b2 and b1.isdisjoint(b2):
        return TiledCube(
            tc1.df.unionByName(tc2.df), schema, tc1.tile, tc1.n_y, tc1.n_x
        )
    if b1 != b2 and b1 & b2:
        raise ValueError(
            "merge_cubes_tiled: partially overlapping band sets unsupported"
        )
    if overlap_resolver is None:
        if _times_disjoint(
            Cube(tc1.df, tc1.schema), Cube(tc2.df, tc2.schema)
        ):
            return TiledCube(
                tc1.df.unionByName(tc2.df), schema,
                tc1.tile, tc1.n_y, tc1.n_x,
            )
        raise ValueError(
            "merge_cubes_tiled: overlapping cubes need an overlap_resolver"
        )
    T2 = tc1.tile * tc1.tile
    keys = [*tc1.key_dims, "tile_row", "tile_col"]
    null_tile = F.expr(f"array_repeat(CAST(NULL AS DOUBLE), {T2})")
    left = tc1.df.withColumnRenamed("data", "_d1")
    right = tc2.df.withColumnRenamed("data", "_d2")
    resolved = F.zip_with(
        F.coalesce("_d1", null_tile),
        F.coalesce("_d2", null_tile),
        lambda a, b: overlap_resolver(a, b).cast("double"),
    )
    left, right = _widened_join_sides(tc1, left, right, keys)
    df = (
        left.join(right, keys, "full_outer")
        .select(*keys, resolved.alias("data"))
    )
    return TiledCube(df, schema, tc1.tile, tc1.n_y, tc1.n_x)


def resample_spatial_tiled(
    tc: TiledCube, factor: int, reducer: str = "mean"
) -> TiledCube:
    """Integer-factor spatial downsampling natively on tiles — the
    block-aggregate semantics of the long
    ``aggregate_spatial_window`` (xarray ``coarsen``,
    ``openeo_odc_driver.py:624-626``) with upper-left grid alignment:
    output pixel (I, J) reduces input block [I·k, I·k+k) × [J·k, J·k+k),
    NULL cells skipped, all-NULL blocks NULL; the output grid keeps the
    origin and scales the resolution by k.

    **Zero shuffles.** ``factor`` must divide the tile edge, so every
    output tile is a pure function of ONE input tile — a scan-fused
    projection mapping a T² array to a (T/k)² array; tile indices are
    unchanged and only the tile edge, scene dims, and grid resolution
    scale. The long-format plan needs a full exchange keyed by window;
    this is the layout paying for itself (the same reason the reference
    resamples inside dask chunks, ``load_odc_collection.py:130``).

    Each tile is an Arrow-batched numpy reshape + nan-reduction
    (``mapInPandas``). Reducers: mean / sum / min / max / nearest
    (upper-left sample — openEO ``near``)."""
    from dataclasses import replace as _dc_replace

    from .cube import GridSpec

    k = int(factor)
    T = tc.tile
    if k < 1 or T % k != 0:
        raise ValueError(
            f"factor must be a positive divisor of the tile edge "
            f"({T}), got {factor!r}"
        )
    if reducer not in ("mean", "sum", "min", "max", "nearest"):
        raise ValueError(
            f"reducer must be mean/sum/min/max/nearest, got {reducer!r}"
        )
    g = tc.schema.grid
    if g is None:
        raise ValueError("resample_spatial_tiled needs a GridSpec")
    OT = T // k
    import numpy as np
    import pandas as pd
    from typing import Iterator

    red = reducer

    def pool_batch(batches: "Iterator[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
        for pdf in batches:
            pooled = []
            for d in pdf["data"]:
                a = np.asarray(d, dtype="float64").reshape(T, T)
                if red == "nearest":
                    out = a[::k, ::k]
                else:
                    b = a.reshape(OT, k, OT, k)
                    nan = np.isnan(b)
                    all_nan = nan.all(axis=(1, 3))
                    if red == "mean":
                        c = (~nan).sum(axis=(1, 3))
                        s = np.nansum(b, axis=(1, 3))
                        with np.errstate(invalid="ignore"):
                            out = np.where(c > 0, s / np.maximum(c, 1), np.nan)
                    elif red == "sum":
                        out = np.where(all_nan, np.nan, np.nansum(b, axis=(1, 3)))
                    else:
                        # nan-reductions warn on all-nan blocks;
                        # zero-fill those and restore NULL after
                        op = np.nanmin if red == "min" else np.nanmax
                        safe = np.where(
                            all_nan[:, None, :, None], 0.0, b
                        )
                        out = op(safe, axis=(1, 3))
                        out = np.where(all_nan, np.nan, out)
                pooled.append(_tile_list(out))
            yield pdf.assign(data=pooled)

    df = tc.df.mapInPandas(pool_batch, tc.df.schema)
    schema = _dc_replace(
        tc.schema,
        grid=GridSpec(x0=g.x0, y0=g.y0, resx=g.resx * k, resy=g.resy * k),
    )
    n_y2 = -(-tc.n_y // k)
    n_x2 = -(-tc.n_x // k)
    return TiledCube(df, schema, OT, n_y2, n_x2)


def resample_spatial_warp_tiled(
    tc: TiledCube, projection, resolution: float, method: str = "near"
) -> TiledCube:
    """``resample_spatial`` with a PROJECTION change natively on tiles
    (round 14) — the last raster operator that still demoted to the
    long tier. The long warp (operators/resample.py) expands the cube
    to pixel rows and equi-joins per pixel (~50 B/px through the
    exchange); here the raster never leaves its packed arrays:

    1. **Constants are action-free**: a tiled cube's scene extent IS
       its metadata (grid origin + n_y/n_x), so the target lattice
       derives with ZERO Spark jobs (the long warp pays one extent
       aggregate). Geometry shares ``functions/proj.py``
       make_transforms / warp_target_lattice with the long warp — the
       tiers cannot drift.
    2. **Request stage**: ``spark.range`` over TARGET tiles → each
       target tile inverse-projects its pixel centers (vectorized TM)
       and emits one row per (source tile, target tile) pair carrying
       the paired position arrays (``spos`` in the source tile,
       ``tpos`` in the target canvas) — int32 geometry, ~8 B per
       target pixel, NO raster data.
    3. **Gather**: requests equi-join the source tiles on the tile
       index (both sides pre-clustered at the raster-aware width) and
       a scan-fused ``mapInPandas`` gathers ``data[spos]`` per pair —
       the raster moves through exactly ONE exchange, still packed.
    4. **Scatter**: one groupBy per (band[, time], target tile) lays
       the gathered fragments on the Tt² canvas (numpy scatter, the
       ``to_tiled`` engine).

    Scene convention: output dims are the full target lattice
    (nyt × nxt); target cells whose nearest source pixel is off-scene
    stay NULL in the canvas — the tiled layout has no "absent pixel"
    inside a tile, so the long warp's absent-row fringe becomes a
    NULL fringe here (pytest pins the exact relationship).

    ``bilinear`` (round 14, late) rides the same three stages with a
    weight array alongside the positions (≤4 request entries per
    target pixel) and a renormalizing accumulate in the scatter
    (Σw·v / Σw over non-NULL joined neighbors — the long warp's exact
    rule). Fragments sort by source tile before accumulating so the
    float sums are partitioning-deterministic; cross-tier agreement
    with the long warp is last-ulp (different summation order),
    pinned at 1e-9 in pytest."""
    from typing import Iterator

    import numpy as np
    import pandas as pd

    from ..functions.proj import (
        make_transforms,
        validate_warp_pair,
        warp_target_lattice,
    )
    from ..operators.resample import _epsg_of

    if method in ("near", "nearest"):
        bilinear = False
    elif method == "bilinear":
        bilinear = True
    else:
        raise TiledRegridUnsupported(
            f"tiled projection warp supports nearest and bilinear, "
            f"got {method!r}"
        )
    src_epsg = _epsg_of(tc.schema.crs)
    tgt_epsg = _epsg_of(projection)
    validate_warp_pair(src_epsg, tgt_epsg)
    g = tc.schema.grid
    if g is None:
        raise ValueError("tiled warp needs a GridSpec")
    res = float(resolution)
    to_target_np, to_source_np = make_transforms(src_epsg, tgt_epsg)

    T = tc.tile
    n_y, n_x = tc.n_y, tc.n_x
    # scene extent (pixel centers) straight from metadata — no job
    sx0, sx1 = g.x0, g.x0 + g.resx * (n_x - 1)
    sy1, sy0 = g.y0 - g.resy * (n_y - 1), g.y0
    e_c0, n_c0, nyt, nxt = warp_target_lattice(
        to_target_np, sx0, sx1, sy1, sy0, g.resx, g.resy, res
    )
    Tt = T
    nt_y, nt_x = -(-nyt // Tt), -(-nxt // Tt)
    src_x0, src_y0, resx, resy = g.x0, g.y0, g.resx, g.resy

    def requests(batches: "Iterator[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
        for pdf in batches:
            out = {"st_r": [], "st_c": [], "tt_r": [], "tt_c": [],
                   "spos": [], "tpos": []}
            if bilinear:
                out["w"] = []
            for tid in pdf["id"]:
                ttr, ttc = divmod(int(tid), nt_x)
                h = min(Tt, nyt - ttr * Tt)
                w = min(Tt, nxt - ttc * Tt)
                ly = np.arange(h)
                lx = np.arange(w)
                e = e_c0 + (ttc * Tt + lx)[None, :] * res
                n = n_c0 - (ttr * Tt + ly)[:, None] * res
                sx, sy = to_source_np(
                    np.broadcast_to(e, (h, w)).ravel(),
                    np.broadcast_to(n, (h, w)).ravel(),
                )
                qx = (sx - src_x0) / resx
                qy = (src_y0 - sy) / resy
                tpos_full = (np.repeat(ly, w) * Tt + np.tile(lx, h)) \
                    .astype("int32")
                if bilinear:
                    xlo = np.floor(qx)
                    ylo = np.floor(qy)
                    wx = qx - xlo
                    wy = qy - ylo
                    xi_l, yi_l, tp_l, w_l = [], [], [], []
                    for dy in (0, 1):
                        for dx in (0, 1):
                            xi4 = xlo.astype("int64") + dx
                            yi4 = ylo.astype("int64") + dy
                            w4 = ((wx if dx else 1.0 - wx)
                                  * (wy if dy else 1.0 - wy))
                            k4 = ((xi4 >= 0) & (xi4 < n_x)
                                  & (yi4 >= 0) & (yi4 < n_y) & (w4 > 0))
                            xi_l.append(xi4[k4])
                            yi_l.append(yi4[k4])
                            tp_l.append(tpos_full[k4])
                            w_l.append(w4[k4])
                    xi = np.concatenate(xi_l)
                    yi = np.concatenate(yi_l)
                    tpos = np.concatenate(tp_l)
                    wts = np.concatenate(w_l)
                else:
                    xi = np.floor(qx + 0.5).astype("int64")
                    yi = np.floor(qy + 0.5).astype("int64")
                    keep = (
                        (xi >= 0) & (xi < n_x) & (yi >= 0) & (yi < n_y)
                    )
                    xi, yi, tpos = xi[keep], yi[keep], tpos_full[keep]
                    wts = None
                if len(xi) == 0:
                    continue
                st = yi // T * ((n_x - 1) // T + 1) + xi // T
                spos = ((yi % T) * T + xi % T).astype("int32")
                order = np.argsort(st, kind="stable")
                st_s, spos_s, tpos_s = st[order], spos[order], tpos[order]
                w_s = wts[order] if wts is not None else None
                bounds = np.flatnonzero(np.diff(st_s)) + 1
                splits = zip(
                    np.split(st_s, bounds), np.split(spos_s, bounds),
                    np.split(tpos_s, bounds),
                    (np.split(w_s, bounds) if w_s is not None
                     else [None] * (len(bounds) + 1)),
                )
                for chunk_s, chunk_sp, chunk_tp, chunk_w in splits:
                    st_r, st_c = divmod(int(chunk_s[0]),
                                        (n_x - 1) // T + 1)
                    out["st_r"].append(st_r)
                    out["st_c"].append(st_c)
                    out["tt_r"].append(ttr)
                    out["tt_c"].append(ttc)
                    out["spos"].append(chunk_sp)
                    out["tpos"].append(chunk_tp)
                    if bilinear:
                        out["w"].append(chunk_w)
            yield pd.DataFrame(out)

    spark = tc.df.sparkSession
    cpus = spark.sparkContext.defaultParallelism
    req_schema = ("st_r int, st_c int, tt_r int, tt_c int, "
                  "spos array<int>, tpos array<int>")
    if bilinear:
        req_schema += ", w array<double>"
    req = (
        spark.range(nt_y * nt_x)
        .repartition(min(max(nt_y * nt_x // 8, 1), cpus * 4))
        .mapInPandas(requests, req_schema)
    )
    keys = tc.key_dims
    src = tc.df.select(
        *keys,
        F.col("tile_row").alias("st_r"), F.col("tile_col").alias("st_c"),
        "data",
    )
    src, req = _widened_join_sides(tc, src, req, ["st_r", "st_c"])
    frag_cols = [*keys, "tt_r", "tt_c", "spos", "tpos", "data"] + (
        ["w"] if bilinear else []
    )
    # NEVER broadcast the request side: Catalyst estimates it from its
    # spark.range parent (tiny), but the position/weight arrays scale
    # with the OUTPUT RASTER — a broadcast ships the whole request
    # table through the driver and to every executor (found live in
    # round 15: the bilinear 42 M px A/B died on
    # spark.driver.maxResultSize at ~1 GiB of request arrays; nearest
    # at the same scale had been silently paying a ~340 MB broadcast).
    # shuffle_hash co-partitions both sides on the tile key — the build
    # side is per-partition, nothing crosses the driver.
    joined = src.join(req.hint("shuffle_hash"), ["st_r", "st_c"]).select(
        *frag_cols, "st_r", "st_c"
    )

    def gather(batches: "Iterator[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
        for pdf in batches:
            vals = [
                np.asarray(d, dtype="float64")[np.asarray(sp, dtype="int64")]
                for d, sp in zip(pdf["data"], pdf["spos"])
            ]
            cols = (*keys, "tt_r", "tt_c", "tpos", "st_r", "st_c") + (
                ("w",) if bilinear else ()
            )
            rec = {k: pdf[k] for k in cols}
            rec["vals"] = vals
            yield pd.DataFrame(rec)

    frag_schema = _ddl(
        tc.df.schema, keys,
        "tt_r int, tt_c int, tpos array<int>, st_r int, st_c int",
        *(["w array<double>"] if bilinear else []), "vals array<double>",
    )
    frags = joined.mapInPandas(gather, frag_schema)

    T2t = Tt * Tt

    def scatter(pdf: pd.DataFrame) -> pd.DataFrame:
        row0 = pdf.iloc[0]
        if bilinear:
            # deterministic accumulation order (float sums): fragments
            # sort by source tile before Σw·v / Σw
            pdf = pdf.sort_values(["st_r", "st_c"])
            num = np.zeros(T2t)
            den = np.zeros(T2t)
            for tp, vv, ww in zip(pdf["tpos"], pdf["vals"], pdf["w"]):
                tp = np.asarray(tp, dtype="int64")
                vv = np.asarray(vv, dtype="float64")
                ww = np.asarray(ww, dtype="float64")
                m = ~np.isnan(vv)
                np.add.at(num, tp[m], ww[m] * vv[m])
                np.add.at(den, tp[m], ww[m])
            with np.errstate(invalid="ignore"):
                canvas = np.where(den > 0, num / np.where(den > 0, den, 1),
                                  np.nan)
        else:
            canvas = np.full(T2t, np.nan)
            for tp, vv in zip(pdf["tpos"], pdf["vals"]):
                canvas[np.asarray(tp, dtype="int64")] = np.asarray(
                    vv, dtype="float64"
                )
        rec = {k: [row0[k]] for k in keys}
        rec["tile_row"] = [int(row0["tt_r"])]
        rec["tile_col"] = [int(row0["tt_c"])]
        rec["data"] = [_tile_list(canvas)]
        return pd.DataFrame(rec)

    out_tc = TiledCube(
        frags, tc.schema, Tt, nyt, nxt  # placeholder schema for width calc
    )
    df = _widen_py(out_tc, frags, [*keys, "tt_r", "tt_c"]) \
        .groupBy(*keys, "tt_r", "tt_c") \
        .applyInPandas(
            scatter,
            _ddl(tc.df.schema, keys,
                 "tile_row int, tile_col int, data array<double>"),
        )
    from dataclasses import replace as _rpl

    schema = _rpl(
        tc.schema,
        grid=GridSpec(x0=e_c0, y0=n_c0, resx=res, resy=res),
        crs=f"EPSG:{tgt_epsg}",
    )
    return TiledCube(df, schema, Tt, nyt, nxt)


def squeeze_time_tiled(tc: TiledCube):
    """Drop a SINGLETON time dimension tile-natively — the reference's
    GeoTIFF squeeze rule (openeo_odc_driver.py:1679-1724 drops a
    length-1 time axis before writing): a pure column projection, zero
    exchange, zero pixel movement. Returns None when the axis has more
    than one step (the caller falls back to the long sink's guarded
    squeeze rules) so the decision is explicit at the plan site."""
    if TIME not in tc.schema.dims:
        return tc
    ax = tc.schema.time_axis
    if ax is not None:
        n = len(ax)
    else:
        n = tc.df.select(TIME).distinct().limit(2).count()
    if n != 1:
        return None
    return TiledCube(
        tc.df.drop(TIME), tc.schema.drop(TIME), tc.tile, tc.n_y, tc.n_x
    )


def time_to_planes_tiled(tc: TiledCube):
    """Map a multi-step TIME axis onto the band/plane axis — the long
    GTiff sink's other squeeze rule (reference openeo_odc_driver.py:
    1693-1703: a single-band cube writes one GeoTIFF band per
    timestamp; sinks/save.py _to_grid does the same driver-side).
    Tile-native: a single-band band dim drops (column projection),
    ``time`` relabels to its formatted timestamp as the plane label —
    zero exchange. Returns None when a MULTI-band band dim is present
    (band+time together has no 3-D GeoTIFF mapping; the long sink's
    guarded error stands). Plane order is ascending time — string sort
    of 'yyyy-MM-dd HH:mm:ss' labels IS chronological, and the labels
    match the long sidecar's ``str(timestamp)`` exactly."""
    if TIME not in tc.schema.dims:
        return tc
    df = tc.df
    schema = tc.schema
    if BAND in schema.dims:
        if len(schema.bands) != 1:
            return None
        df = df.drop(BAND)
        schema = schema.drop(BAND)
    ax = schema.time_axis
    if ax is not None:
        times = list(ax)
    else:
        times = [r[0] for r in df.select(TIME).distinct().collect()]
    # the data column relabels via date_format('yyyy-MM-dd HH:mm:ss'),
    # which truncates sub-second precision and cannot render tz-aware
    # stamps — a label/value mismatch would silently drop tiles at the
    # sink's plane mapping, so such axes demote to the long sink
    # (ADVICE r14)
    for t in times:
        if (getattr(t, "microsecond", 0) or getattr(t, "nanosecond", 0)
                or getattr(t, "tzinfo", None) is not None):
            return None
    labels = sorted(str(t) for t in times)
    df = df.withColumn(
        BAND, F.date_format(TIME, "yyyy-MM-dd HH:mm:ss")
    ).drop(TIME)
    schema = schema.drop(TIME)
    if BAND not in schema.dims:
        from dataclasses import replace as _r

        schema = _r(schema, dims=(BAND, *schema.dims))
    schema = schema.with_bands(tuple(labels))
    return TiledCube(df, schema, tc.tile, tc.n_y, tc.n_x)


def resample_cube_temporal_tiled(source: TiledCube, target) -> TiledCube:
    """``resample_cube_temporal`` (nearest-time as-of join, reference
    ``openeo_odc_driver.py:360-380``) natively on tiles — time is a key
    column on the tile rows, so the long plan transfers row-for-row at
    tile²× fewer rows (the long twin's unknown-axis plan,
    ``operators/resample.py:resample_cube_temporal``): the
    target→nearest-source mapping is built from the two tiny
    distinct time axes (broadcast cross join + rank) and broadcast-
    equi-joined onto the source tile rows, relabeling time. **The packed
    arrays never open and the big side never shuffles** — this is the
    regrid-before-merge alignment every two-collection graph hits,
    previously a from_tiled demotion (T²× rows through an exchange).

    ``target`` needs only a time axis: a TiledCube or long Cube (both
    carry ``.df`` with a time column and ``.schema``); tie-break is the
    earlier source time, as in the long operator."""
    from pyspark.sql import Window

    if TIME not in source.schema.dims:
        raise ValueError("resample_cube_temporal_tiled needs a time dimension")
    src_times = (
        source.df.select(TIME).distinct().withColumnRenamed(TIME, "_src_t")
    )
    tgt_times = (
        target.df.select(TIME).distinct().withColumnRenamed(TIME, "_tgt_t")
    )
    pairs = tgt_times.crossJoin(F.broadcast(src_times))
    w = Window.partitionBy("_tgt_t").orderBy(
        F.abs(F.unix_micros("_tgt_t") - F.unix_micros("_src_t")),
        F.col("_src_t"),
    )
    mapping = (
        pairs.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select("_src_t", "_tgt_t")
    )
    cols = source.df.columns
    out = (
        source.df.join(
            F.broadcast(mapping), source.df[TIME] == mapping["_src_t"], "inner"
        )
        .drop(TIME, "_src_t")
        .withColumnRenamed("_tgt_t", TIME)
        .select(*cols)
    )
    schema = source.schema.with_time_extent(
        target.schema.time_extent
    ).with_time_axis(target.schema.time_axis)
    return TiledCube(out, schema, source.tile, source.n_y, source.n_x)


class TiledRegridUnsupported(ValueError):
    """The grid pair has no exact tiled nearest-snap representation
    (upscale gaps, partially-covering target axes) — the planner
    catches THIS class and demotes to the long snap."""


def _axis_winner_map(
    n_src: int, o_s: float, res_s: float, o_t: float, res_t: float,
    descending: bool,
):
    """Winner SOURCE index per target cell along one axis — the long
    snap's semantics precomputed as plan data with the SAME IEEE double
    expressions ``operators/resample.py:resample_cube_spatial``
    evaluates per row (coordinate, quotient, floor(·+0.5), squared
    distance — a derived ``off + step·i`` form rounds differently and
    flips winners near rational-factor ties). Ties break as in the long
    snap's ``(d, x, y)`` minimum: smaller x (= smaller i, ascending
    axis), smaller y (= LARGER i, descending axis). The map is strictly
    increasing (snapper sets are disjoint). Raises
    :class:`TiledRegridUnsupported` when the long output's cell set is
    not exactly [0, J_max] (negative or gapped snap image — upscale, or
    a target origin off the scene): a dense tile array cannot represent
    absent interior cells without fabricating NULL rows the long
    operator lacks."""
    import numpy as np

    i = np.arange(n_src, dtype="float64")
    if descending:  # y = o_s − res_s·i; sy = o_t − res_t·J
        c = o_s - res_s * i
        J = np.floor((o_t - c) / res_t + 0.5).astype("int64")
        snapped = o_t - res_t * J.astype("float64")
    else:  # x = o_s + res_s·i; sx = o_t + res_t·J
        c = o_s + res_s * i
        J = np.floor((c - o_t) / res_t + 0.5).astype("int64")
        snapped = o_t + res_t * J.astype("float64")
    if J[0] != 0:
        raise TiledRegridUnsupported(
            "target origin does not anchor the snapped scene "
            f"(first source pixel snaps to cell {J[0]}, want 0)"
        )
    d = (c - snapped) * (c - snapped)
    nt = int(J[-1]) + 1
    tb = -i if descending else i
    order = np.lexsort((tb, d, J))
    Jo = J[order]
    first = np.unique(Jo, return_index=True)[1]
    winners = np.full(nt, -1, dtype="int64")
    winners[Jo[first]] = order[first]
    if (winners < 0).any():
        raise TiledRegridUnsupported(
            "snap image has interior gaps (target finer than source?); "
            "the tiled layout cannot represent absent cells"
        )
    return winners


def _axis_relabel(
    n_src: int, o_s: float, res_s: float, o_t: float, res_t: float,
    descending: bool,
):
    """UPSCALE (target finer than source) nearest snap along one axis —
    round-12 item 3. The long operator snaps each SOURCE pixel to its
    nearest target cell; when the snap is injective (every source pixel
    its own cell — always true for a genuinely finer target), the long
    output is a pure RELABEL of the source rows: same values, snapped
    coordinates, and the in-between fine cells have NO rows at all. A
    dense tile array can represent that exactly iff the snapped
    coordinates are affine in the source index — i.e. the occupied
    cells form a uniform lattice ``x0' + res'·i`` that regenerates
    every long coordinate BIT-EXACTLY through from_tiled's expression
    (the filter_bbox_tiled_native drift discipline). Returns
    ``(origin', res')`` for that lattice or raises
    :class:`TiledRegridUnsupported` (non-uniform snap stride — e.g.
    res 1 → 0.7 — or ulp drift)."""
    import numpy as np

    i = np.arange(n_src, dtype="float64")
    # the long snap's literal IEEE expressions (floor(q + 0.5))
    if descending:
        c = o_s - res_s * i
        J = np.floor((o_t - c) / res_t + 0.5)
        snapped = o_t - res_t * J
    else:
        c = o_s + res_s * i
        J = np.floor((c - o_t) / res_t + 0.5)
        snapped = o_t + res_t * J
    if n_src > 1 and not (np.diff(J) > 0).all():
        raise TiledRegridUnsupported(
            "source pixels collide on target cells (not an injective "
            "upscale snap)"
        )
    if n_src > 1:
        k = J[1] - J[0]
        if not (np.diff(J) == k).all():
            raise TiledRegridUnsupported(
                "snap stride is non-uniform (non-rational factor); the "
                "occupied cells form no lattice a dense tile can label"
            )
        resp = float(res_t * k)
    else:
        resp = float(res_t)
    origin = float(snapped[0])
    regen = origin - resp * i if descending else origin + resp * i
    if not np.array_equal(snapped, regen):
        raise TiledRegridUnsupported(
            "relabeled coordinates drift from the affine regeneration "
            "(ulp mismatch); demoting to the long snap"
        )
    if n_src > 1 and not (
        (np.diff(snapped) < 0).all() if descending
        else (np.diff(snapped) > 0).all()
    ):
        raise TiledRegridUnsupported(
            "snapped coordinates are not strictly monotone (float "
            "collapse); the long groupBy would merge rows"
        )
    return origin, resp


def _frag_ddl(schema, keys: list[str]) -> str:
    """Output DDL of the fragment-emitting stages: rows ``(*keys,
    tile_row, tile_col, _r0, _c0, _h, _w, _frag)`` — an ``_h × _w``
    block of output tile (tile_row, tile_col) whose top-left cell is
    (_r0, _c0)."""
    return _ddl(
        schema, keys,
        "tile_row int, tile_col int, _r0 int, _c0 int, _h int, _w int, "
        "_frag array<double>",
    )


def _nan_pad(canvas, tile: int):
    """``canvas`` NaN-padded at the bottom and right to ``tile × tile``
    (a partial edge tile keeps the layout's NULL padding)."""
    import numpy as np

    h, w = canvas.shape
    return np.pad(canvas, ((0, tile - h), (0, tile - w)),
                  constant_values=np.nan)


def _span_feeds(maps, T: int):
    """The overlap lookup of :func:`_gather_tiles` along one axis:
    ``maps[R]`` is the strictly increasing int64 array of source
    indices output tile R reads, with first and last indices
    nondecreasing in R. Returns ``feeds(t0)`` → ``[(R, canvas offset,
    span-local indices), ...]`` for every R that reads source span
    ``[t0, t0+T)``: the candidates are one ``searchsorted`` range over
    the first/last indices, and a candidate whose indices skip the
    span is dropped."""
    import numpy as np

    first = np.array([m[0] for m in maps])
    last = np.array([m[-1] for m in maps])

    def feeds(t0: int) -> list:
        out = []
        for R in range(int(np.searchsorted(last, t0)),
                       int(np.searchsorted(first, t0 + T))):
            lo, hi = np.searchsorted(maps[R], (t0, t0 + T))
            if lo < hi:
                out.append((R, int(lo), maps[R][lo:hi] - t0))
        return out

    return feeds


def _gather_tiles(
    source: TiledCube, rows_of, cols_of, finish, schema: CubeSchema,
    tile: int, n_y: int, n_x: int,
) -> TiledCube:
    """The one fragment gather behind every per-axis regrid — the
    nearest snap (:func:`resample_cube_spatial_tiled`), the window and
    edge repack (:func:`_retile_python`) and the bilinear windows
    (:func:`resample_cube_spatial_bilinear_tiled`). Output tile
    ``(R, C)`` reads the source pixels ``rows_of[R] × cols_of[C]``
    (strictly increasing int64 index arrays, one per output tile and
    axis);
    ``finish(R, C, canvas)`` turns that gathered canvas into the
    ``tile × tile`` output array.

    Physical plan, two stages:

    1. **Scan-fused emit** (``mapInPandas``, zero exchange): each source
       tile emits, per output tile it feeds, the block of its pixels
       that tile reads as one :func:`_frag_ddl` row placed at the
       block's canvas position — data volume drops to what the outputs
       read BEFORE anything shuffles. :func:`_span_feeds` finds the
       output tiles a source span feeds without scanning every tile; a
       tile whose indices skip the span (a gap in a winner map) gets
       no fragment.
    2. **One exchange keyed by output tile** (``applyInPandas`` at the
       pandas-stage width): fragments land in disjoint canvas windows,
       so the scatter is order-free per group."""
    from typing import Iterator

    import numpy as np
    import pandas as pd

    T = source.tile
    keys = source.key_dims
    gkeys = [*keys, "tile_row", "tile_col"]
    row_feeds, col_feeds = _span_feeds(rows_of, T), _span_feeds(cols_of, T)

    def emit(batches: "Iterator[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
        for pdf in batches:
            rows = []
            for row in pdf.itertuples(index=False):
                rec = row._asdict()
                rs = row_feeds(int(rec["tile_row"]) * T)
                cs = col_feeds(int(rec["tile_col"]) * T)
                if not rs or not cs:
                    continue
                a = np.asarray(rec["data"], dtype="float64").reshape(T, T)
                for R, r0, ri in rs:
                    band = a[ri]
                    for C, c0, ci in cs:
                        # NaN rides Arrow as a double (assemble re-NaNs
                        # via np.asarray); tolist() is C-speed
                        rows.append({
                            **{k: rec[k] for k in keys},
                            "tile_row": R, "tile_col": C,
                            "_r0": r0, "_c0": c0,
                            "_h": len(ri), "_w": len(ci),
                            "_frag": band[:, ci].reshape(-1).tolist(),
                        })
            if rows:
                yield pd.DataFrame(rows)

    def assemble(pdf: pd.DataFrame) -> pd.DataFrame:
        row0 = pdf.iloc[0]
        R, C = int(row0["tile_row"]), int(row0["tile_col"])
        canvas = np.full((len(rows_of[R]), len(cols_of[C])), np.nan)
        # plain tuples: itertuples RENAMES underscore-prefixed columns
        for r0, c0, h, w, frag in pdf[
            ["_r0", "_c0", "_h", "_w", "_frag"]
        ].itertuples(index=False, name=None):
            canvas[r0:r0 + h, c0:c0 + w] = np.asarray(
                frag, dtype="float64"
            ).reshape(h, w)
        return pd.DataFrame([{
            **_group_keys(row0, gkeys),
            "data": _tile_list(finish(R, C, canvas)),
        }])

    frags = source.df.mapInPandas(emit, _frag_ddl(source.df.schema, keys))
    w_handle = TiledCube(frags, schema, tile, n_y, n_x)
    df = _widen_py(w_handle, frags, gkeys).groupBy(*gkeys).applyInPandas(
        assemble, _ddl(frags.schema, gkeys, "data array<double>")
    )
    return TiledCube(df, schema, tile, n_y, n_x)


def resample_cube_spatial_tiled(
    source: TiledCube, target, method: str = "near"
) -> TiledCube:
    """``resample_cube_spatial`` nearest-snap (reference
    ``openeo_odc_driver.py:342-358``; long twin
    ``operators/resample.py:53``) natively on tiles for ANY covering
    downscale grid pair — integer factors, RATIONAL factors (10 m →
    15 m), and shifted origins alike: the long snap's winner pixel per
    target cell is a pure function of the two grids, precomputed per
    axis as plan data (:func:`_axis_winner_map`), so no coordinate
    columns ever materialize.

    Physical plan: :func:`_gather_tiles` with each output tile's slice
    of the winner maps — source tiles emit only their winner pixels
    (data volume drops to the output raster BEFORE anything shuffles),
    then one exchange of output-raster bytes assembles the target-edge
    tiles.

    UPSCALE pairs (target finer than source) take the relabel path
    instead (round 12, :func:`_axis_relabel`): the injective snap is a
    zero-shuffle grid re-anchor. Grid pairs without an exact dense
    representation (non-uniform snap strides, off-scene target
    origins) raise :class:`TiledRegridUnsupported` — the planner
    catches it and demotes to the long snap (recorded in
    ``tiled_demotions``). 2-D cross ties (two candidates with DIFFERENT
    per-axis distances but equal total distance, where the long
    ``ORDER BY d, x, y`` could pick a non-separable winner) are not
    reproduced — they require exact d equality across unequal axis
    splits, absent from real grid pairs."""
    import numpy as np

    if method not in ("near", "nearest"):
        raise ValueError("only near/nearest runs natively on tiles")
    sg, tg = source.schema.grid, target.schema.grid
    if sg is None or tg is None:
        raise ValueError("resample_cube_spatial_tiled needs GridSpecs")
    Tt = target.tile if isinstance(target, TiledCube) else source.tile
    schema = _dc_replace(source.schema, grid=tg)
    T = source.tile
    n_y, n_x = source.n_y, source.n_x
    try:
        wx = _axis_winner_map(
            n_x, sg.x0, sg.resx, tg.x0, tg.resx, descending=False
        )
        wy = _axis_winner_map(
            n_y, sg.y0, sg.resy, tg.y0, tg.resy, descending=True
        )
    except TiledRegridUnsupported:
        # UPSCALE (round-12 item 3): an injective snap is a pure
        # relabel — same tile arrays, a re-anchored grid over the
        # occupied lattice (the long twin's grid metadata names the
        # fine target lattice; the ROW SET is identical, which is what
        # the shared oracle compares). Zero data movement, no shuffle.
        # Mixed down/up pairs fail both paths and demote as before.
        from .cube import GridSpec

        x0p, resxp = _axis_relabel(
            n_x, sg.x0, sg.resx, tg.x0, tg.resx, descending=False
        )
        y0p, resyp = _axis_relabel(
            n_y, sg.y0, sg.resy, tg.y0, tg.resy, descending=True
        )
        schema_up = _dc_replace(
            source.schema,
            grid=GridSpec(x0=x0p, y0=y0p, resx=resxp, resy=resyp),
        )
        out = TiledCube(source.df, schema_up, T, n_y, n_x)
        return out if T == Tt else retile(out, Tt)
    nt_y, nt_x = len(wy), len(wx)
    if (
        nt_x == n_x and nt_y == n_y
        and (wx == np.arange(n_x)).all() and (wy == np.arange(n_y)).all()
    ):
        # identity snap (same grid): pure schema swap
        out = TiledCube(source.df, schema, T, n_y, n_x)
        return out if T == Tt else retile(out, Tt)
    # output tile R reads its winner pixels: the winner map's slice
    return _gather_tiles(
        source,
        [wy[R * Tt:(R + 1) * Tt] for R in range(-(-nt_y // Tt))],
        [wx[C * Tt:(C + 1) * Tt] for C in range(-(-nt_x // Tt))],
        lambda R, C, canvas: _nan_pad(canvas, Tt),
        schema, Tt, nt_y, nt_x,
    )


def resample_cube_spatial_bilinear_tiled(
    source: TiledCube, target: TiledCube
) -> TiledCube:
    """``resample_cube_spatial(method="bilinear")`` natively on tiles
    (long twin ``operators/resample.py:resample_cube_spatial_bilinear``):
    each target cell blends its 4 surrounding source pixels with
    (1−wx)(1−wy)-style weights, NULL neighbors renormalized out.

    The neighbor geometry is a pure function of the two grids,
    precomputed per axis as plan data with the long operator's literal
    IEEE arithmetic (``floor((tx − x0s)/resx)`` indices + fractional
    weights). Out-of-scene neighbors behave exactly like the long
    plan's dropped join rows — NaN on the canvas, excluded from BOTH
    the weighted sum and the weight normalizer. A target cell with
    ZERO in-scene neighbors has no long output row at all, which a
    dense tile array cannot express → :class:`TiledRegridUnsupported`
    (the planner demotes).

    Physical plan: :func:`_gather_tiles` with each target tile's
    source WINDOW (the contiguous index range its cells read,
    ≤ Tt·res_t/res_s + 2 per axis) — ONE exchange of window fragments
    keyed by target tile, then the blend runs vectorized on the
    assembled window canvas. Shuffle volume ≈ the source raster once
    (each source pixel lands in O(1) windows), versus the long plan's
    4×-exploded neighbor join feeding a per-cell groupBy."""
    import numpy as np

    sg, tg = source.schema.grid, target.schema.grid
    if sg is None or tg is None:
        raise ValueError("bilinear tiled regrid needs GridSpecs")
    Tt = target.tile
    n_y, n_x = source.n_y, source.n_x
    nt_y, nt_x = target.n_y, target.n_x

    def axis_geom(nt, o_t, res_t, o_s, res_s, descending):
        J = np.arange(nt, dtype="float64")
        if descending:
            c = o_t - res_t * J        # target cell y
            f = (o_s - c) / res_s
        else:
            c = o_t + res_t * J        # target cell x
            f = (c - o_s) / res_s
        lo = np.floor(f)
        w = f - lo                     # weight of the +1 neighbor
        lo = lo.astype("int64")
        if ((lo + 1 < 0) | (lo > 0 + (n_y if descending else n_x) - 1)).any():
            raise TiledRegridUnsupported(
                "a target cell has no in-scene source neighbor on one "
                "axis — its long output row would not exist"
            )
        return lo, w

    ylo, wy = axis_geom(nt_y, tg.y0, tg.resy, sg.y0, sg.resy, True)
    xlo, wx = axis_geom(nt_x, tg.x0, tg.resx, sg.x0, sg.resx, False)

    def windows(lo_arr, nt, n_src):
        """Per target tile, its source window (scene-clipped): lo
        indices are nondecreasing in J, so each window is a range and
        both its ends are nondecreasing in the tile index."""
        wins = []
        for j0 in range(0, nt, Tt):
            j1 = min(j0 + Tt, nt) - 1
            wins.append(np.arange(max(int(lo_arr[j0]), 0),
                                  min(int(lo_arr[j1]) + 1, n_src - 1) + 1))
        return wins

    win_y = windows(ylo, nt_y, n_y)
    win_x = windows(xlo, nt_x, n_x)

    def blend(R: int, C: int, canvas):
        ch, cw = canvas.shape
        j0r, j1r = R * Tt, min((R + 1) * Tt, nt_y)
        j0c, j1c = C * Tt, min((C + 1) * Tt, nt_x)
        rr = ylo[j0r:j1r] - win_y[R][0]     # canvas row of the dy=0 nbr
        cc = xlo[j0c:j1c] - win_x[C][0]
        wyf = wy[j0r:j1r][:, None]
        wxf = wx[j0c:j1c][None, :]
        num = np.zeros((len(rr), len(cc)))
        den = np.zeros((len(rr), len(cc)))
        for dy in (0, 1):
            rws = rr + dy
            r_ok = (rws >= 0) & (rws < ch)
            for dx in (0, 1):
                cls = cc + dx
                c_ok = (cls >= 0) & (cls < cw)
                v = canvas[np.ix_(np.clip(rws, 0, ch - 1),
                                  np.clip(cls, 0, cw - 1))]
                ok = r_ok[:, None] & c_ok[None, :] & ~np.isnan(v)
                w2 = ((1.0 - wyf) if dy == 0 else wyf) * (
                    (1.0 - wxf) if dx == 0 else wxf
                )
                num += np.where(ok, w2 * np.nan_to_num(v), 0.0)
                den += np.where(ok, w2 * np.ones_like(v), 0.0)
        with np.errstate(invalid="ignore", divide="ignore"):
            return _nan_pad(num / den, Tt)

    schema = _dc_replace(source.schema, grid=tg)
    return _gather_tiles(source, win_y, win_x, blend, schema, Tt,
                         nt_y, nt_x)


def _retile_same_edge_jvm(
    tc: TiledCube, row0: int, col0: int, n_y: int, n_x: int, out_schema
) -> TiledCube:
    """Window repack at an UNCHANGED tile edge, entirely JVM-side.

    Because source and destination share the edge T, the shift
    ``(dy, dx) = (row0 % T, col0 % T)`` is the same for every tile:
    each destination canvas is a fixed ≤4-way stencil of source
    fragments (top-left h1×w1, top-right h1×dx, bottom-left dy×w1,
    bottom-right dy×dx with h1 = T−dy, w1 = T−dx) — all geometry is
    plan constants. Each source tile therefore emits its ≤4 fragments
    as array ``slice``/``flatten`` expressions (shuffle bytes = the
    kept window, like the Python fragment plan it replaces), one
    groupBy pivots them into role columns, and a ``transform`` over
    the T² cell indices assembles the canvas — no Arrow/pandas
    boundary, which was the fixed ~0.5–1 s the native filter_bbox
    paid per 12.6 M px (PLANS.md round-11 A/B).

    The aligned case (dy = dx = 0) degenerates to a pure projection:
    tile indices shift, out-of-range tiles prune, and only the window's
    edge tiles rewrite their array (beyond-window cells → NULL, the
    same padding discipline to_tiled uses past the scene edge)."""
    T = tc.tile
    q_r, dy = divmod(row0, T)
    q_c, dx = divmod(col0, T)
    h1, w1 = T - dy, T - dx
    nd_y, nd_x = -(-n_y // T), -(-n_x // T)
    keys = tc.key_dims

    def in_range(df):
        return df.where(
            (F.col("tile_row") >= 0) & (F.col("tile_row") < nd_y)
            & (F.col("tile_col") >= 0) & (F.col("tile_col") < nd_x)
        )

    # valid pixel counts of a DEST tile (≤ T only on the window's last
    # row/column of tiles) — all array work below is per-ROW bulk
    # slice/concat: a per-ELEMENT CASE/element_at transform was measured
    # 6× SLOWER than the Python repack it replaced (interpreted HOF
    # lambdas cost ~µs/element; array copies are tight JVM loops)
    vh = f"least({T}, {n_y} - tile_row * {T})"
    vw = f"least({T}, {n_x} - tile_col * {T})"
    nulls = "CAST(NULL AS DOUBLE)"

    def pad_expr(src_row: str) -> str:
        """One canvas ROW with the beyond-window tail nulled; src_row
        is an expression for the unpadded row array (length T)."""
        return (
            f"CASE WHEN {vw} >= {T} THEN {src_row} "
            f"ELSE concat(slice({src_row}, 1, {vw}), "
            f"array_repeat({nulls}, {T} - {vw})) END"
        )

    def rows_expr(row_of_r: str) -> str:
        """Assemble the T×T canvas from per-row expressions: NULL rows
        past the window, padded tail on the last tile column."""
        return (
            f"flatten(transform(sequence(0, {T - 1}), r -> "
            f"CASE WHEN r >= {vh} THEN array_repeat({nulls}, {T}) "
            f"ELSE {pad_expr(row_of_r)} END))"
        )

    if dy == 0 and dx == 0:
        proj = in_range(tc.df.select(
            *keys,
            (F.col("tile_row") - F.lit(q_r)).alias("tile_row"),
            (F.col("tile_col") - F.lit(q_c)).alias("tile_col"),
            F.col("data"),
        ))
        # full-interior tiles pass their array through untouched
        df = proj.select(
            *keys, "tile_row", "tile_col",
            F.when(
                ((F.col("tile_row") + 1) * T <= n_y)
                & ((F.col("tile_col") + 1) * T <= n_x),
                F.col("data"),
            ).otherwise(
                F.expr(rows_expr(f"slice(data, r * {T} + 1, {T})"))
            ).alias("data"),
        )
        return TiledCube(df, out_schema, T, n_y, n_x)

    # roles: (b, g) ∈ {top, bottom} × {left, right}; absent shifts drop
    # their roles at plan time (dy == 0 → no bottom row of fragments)
    roles = []  # (role_id, b, g, row_start, h, col_start, w)
    rid = 0
    for b in ((0, 1) if dy else (0,)):
        for g in ((0, 1) if dx else (0,)):
            rs, h = (dy, h1) if b == 0 else (0, dy)
            cs, w = (dx, w1) if g == 0 else (0, dx)
            roles.append((rid, b, g, rs, h, cs, w))
            rid += 1

    def frag_expr(rs: int, h: int, cs: int, w: int):
        if cs == 0 and w == T:
            return F.slice(F.col("data"), rs * T + 1, h * T)
        return F.expr(
            f"flatten(transform(sequence({rs}, {rs + h - 1}), "
            f"r -> slice(data, r * {T} + {cs} + 1, {w})))"
        )

    # ONE scan: all ≤4 fragments are computed in a single projection
    # (the generator input is evaluated once per source row — no
    # re-evaluation through the Generate) and exploded into addressed
    # fragment rows. Four union legs would decode the parquet arrays
    # four times — measured as the dominant repack cost at 12.6 M px.
    frag_structs = F.array(*[
        F.struct(
            (F.col("tile_row") - F.lit(q_r + b)).alias("tile_row"),
            (F.col("tile_col") - F.lit(q_c + g)).alias("tile_col"),
            F.lit(role_id).alias("_role"),
            frag_expr(rs, h, cs, w).alias("_frag"),
        )
        for role_id, b, g, rs, h, cs, w in roles
    ])
    frags = in_range(
        tc.df.select(*keys, F.explode(frag_structs).alias("_e"))
        .select(*keys, "_e.tile_row", "_e.tile_col", "_e._role",
                "_e._frag")
    )
    rid_of = {(b, g): role_id for role_id, b, g, *_ in roles}
    grouped = frags.groupBy(*keys, "tile_row", "tile_col").agg(*[
        F.first(F.when(F.col("_role") == role_id, F.col("_frag")),
                ignorenulls=True).alias(f"_f{role_id}")
        for role_id, *_ in roles
    ])
    # a fragment missing at the window/scene edge contributes NULLs —
    # coalesce once per tile so the row concat never sees a NULL array
    # (concat(NULL, x) would nullify the whole row)
    filled = grouped.select(
        *keys, "tile_row", "tile_col", *[
            F.coalesce(
                F.col(f"_f{role_id}"),
                F.expr(f"array_repeat({nulls}, {h * w})"),
            ).alias(f"_f{role_id}")
            for role_id, b, g, rs, h, cs, w in roles
        ]
    )

    def row_slice(b: int, g: int) -> str:
        """Role (b,g)'s contribution to canvas row r: one bulk slice
        of its fragment (row index r for top roles, r − h1 for
        bottom)."""
        role_id = rid_of[(b, g)]
        w = w1 if g == 0 else dx
        r_loc = "r" if b == 0 else f"(r - {h1})"
        return f"slice(_f{role_id}, {r_loc} * {w} + 1, {w})"

    if dy and dx:
        base = (f"CASE WHEN r < {h1} THEN "
                f"concat({row_slice(0, 0)}, {row_slice(0, 1)}) "
                f"ELSE concat({row_slice(1, 0)}, {row_slice(1, 1)}) END")
    elif dy:
        base = (f"CASE WHEN r < {h1} THEN {row_slice(0, 0)} "
                f"ELSE {row_slice(1, 0)} END")
    else:
        base = f"concat({row_slice(0, 0)}, {row_slice(0, 1)})"
    df = filled.select(
        *keys, "tile_row", "tile_col",
        F.expr(rows_expr(base)).alias("data"),
    )
    return TiledCube(df, out_schema, T, n_y, n_x)


def retile(
    tc: TiledCube,
    new_tile: int,
    row0: int = 0,
    col0: int = 0,
    n_y: int | None = None,
    n_x: int | None = None,
    grid=None,
) -> TiledCube:
    """Repack a tiled cube onto a different tile edge and/or a pixel
    WINDOW — the layout adapter two differently-tiled stores need
    before :func:`merge_cubes_tiled`, and the engine behind the native
    :func:`filter_bbox_tiled_native` slice (window anchored at
    ``(row0, col0)`` with ``n_y × n_x`` kept pixels and a re-anchored
    ``grid``). One exchange keyed by destination tile: each source
    tile splits scan-fused into per-destination fragments (no
    pixel-row explosion), then fragments scatter into the destination
    canvas — the same fragment gather (:func:`_gather_tiles`) as
    :func:`resample_cube_spatial_tiled` with k=1."""
    if new_tile < 1:
        raise ValueError(f"tile must be >= 1, got {new_tile}")
    windowed = row0 or col0 or (
        n_y is not None and n_y != tc.n_y
    ) or (n_x is not None and n_x != tc.n_x)
    if new_tile == tc.tile and not windowed:
        if grid is None:
            return tc
        # honor the grid override even on the no-op layout path
        # (ADVICE r11: a caller passing a re-anchored grid must get it
        # back regardless of whether any pixels move)
        return TiledCube(tc.df, _dc_replace(tc.schema, grid=grid),
                         tc.tile, tc.n_y, tc.n_x)
    T, Tt = tc.tile, new_tile
    n_y = tc.n_y if n_y is None else n_y
    n_x = tc.n_x if n_x is None else n_x
    out_schema_obj = (tc.schema if grid is None
                      else _dc_replace(tc.schema, grid=grid))
    if Tt == T:
        # same-edge window: the fragment plan degenerates to a fixed
        # ≤4-way stencil — expressible entirely JVM-side (VERDICT r11
        # item 2); _retile_python remains for genuine tile-edge changes
        return _retile_same_edge_jvm(tc, row0, col0, n_y, n_x,
                                     out_schema_obj)
    if not windowed and (
        (T % Tt == 0 and T // Tt <= 16) or (Tt % T == 0 and Tt // T <= 16)
    ):
        # integer-ratio edge change, full scene (round 13, VERDICT r12
        # item 4): the fragment geometry is periodic in lcm(T, Tt) = the
        # larger edge, so the stencil is plan constants — no
        # Arrow/pandas boundary. The ratio cap keeps the unrolled
        # expression count bounded; beyond it the Python fragment plan
        # remains.
        return _retile_integer_ratio_jvm(tc, Tt, out_schema_obj)
    if not windowed:
        # RATIONAL edge ratio (round 14, VERDICT r13 item 6): neither
        # edge divides the other, but fragment geometry is periodic in
        # lcm(T, Tt) — rather than unroll the (lcm/T)²·(lcm/Tt)² phase
        # stencil, decompose through the gcd: SPLIT T → g (zero-exchange
        # JVM projection) then MERGE g → Tt (one tile-keyed exchange) —
        # both the proven integer-ratio paths, raster moves through ONE
        # exchange total, same as the direct plan would. The g ≥ 16
        # floor keeps intermediate arrays ≥ 256 elements (bulk slices,
        # not element-churn); the ratio caps bound the unrolls exactly
        # as in the integer case. e.g. 256→96: g=32, split k=8,
        # merge k=3.
        import math as _math

        g = _math.gcd(T, Tt)
        if g >= 16 and T // g <= 16 and Tt // g <= 16:
            mid = _retile_integer_ratio_jvm(tc, g, tc.schema)
            return _retile_integer_ratio_jvm(mid, Tt, out_schema_obj)
    return _retile_python(tc, new_tile, row0, col0, n_y, n_x,
                          out_schema_obj)


def _retile_integer_ratio_jvm(tc: TiledCube, Tt: int, out_schema_obj):
    """Tile-edge-CHANGING repack for integer edge ratios, entirely
    JVM-side (the general case rides :func:`_retile_python`'s
    Arrow/pandas fragment plan — measured as the dominant repack cost
    at 12.6 M px, PLANS.md round-13 A/B).

    **SPLIT** (``Tt`` divides ``T``, k = T/Tt): every destination tile
    lies inside exactly ONE source tile, so the repack is a pure
    scan-fused projection — each source tile emits its k² sub-tiles as
    bulk ``slice``/``flatten`` expressions in one Generate. **ZERO
    exchange** (the Python plan shuffled the full raster); this is the
    direction ``merge_cubes_tiled`` auto-retile takes when adapting a
    coarser-tiled store down to the finer layout.

    **MERGE** (``T`` divides ``Tt``, k = Tt/T): each destination tile
    is a k×k block of source tiles — tag each source tile with its
    destination index and (b, c) block role, pivot the k² roles into
    columns with one tile-keyed groupBy (join keys = tiles, arrays
    never open), and assemble the Tt² canvas as an unrolled concat of
    per-row-band bulk slices. One exchange of the raster, no
    Arrow/pandas boundary.

    NULL padding of partial edge tiles flows through slices unchanged
    (missing source tiles in the merge case coalesce to NULL blocks),
    so the padding discipline matches :func:`to_tiled` exactly."""
    T = tc.tile
    n_y, n_x = tc.n_y, tc.n_x
    keys = tc.key_dims
    nd_y, nd_x = -(-n_y // Tt), -(-n_x // Tt)
    nulls = "CAST(NULL AS DOUBLE)"

    if T % Tt == 0:  # SPLIT: zero-shuffle projection
        k = T // Tt
        frag_structs = F.array(*[
            F.struct(
                (F.col("tile_row") * k + i).alias("tile_row"),
                (F.col("tile_col") * k + j).alias("tile_col"),
                F.expr(
                    f"flatten(transform(sequence(0, {Tt - 1}), r -> "
                    f"slice(data, ({i * Tt} + r) * {T} + {j * Tt} + 1, "
                    f"{Tt})))"
                ).alias("data"),
            )
            for i in range(k) for j in range(k)
        ])
        df = (
            tc.df.select(*keys, F.explode(frag_structs).alias("_e"))
            .select(*keys, "_e.tile_row", "_e.tile_col", "_e.data")
            .where(
                (F.col("tile_row") < nd_y) & (F.col("tile_col") < nd_x)
            )
        )
        return TiledCube(df, out_schema_obj, Tt, n_y, n_x)

    k = Tt // T  # MERGE: k² roles, one tile-keyed exchange
    tagged = tc.df.select(
        *keys,
        (F.col("tile_row") / k).cast("int").alias("_dr"),
        (F.col("tile_col") / k).cast("int").alias("_dc"),
        ((F.col("tile_row") % k) * k + F.col("tile_col") % k).alias("_role"),
        "data",
    )
    grouped = tagged.groupBy(*keys, "_dr", "_dc").agg(*[
        F.first(F.when(F.col("_role") == b * k + c, F.col("data")),
                ignorenulls=True).alias(f"_f{b}_{c}")
        for b in range(k) for c in range(k)
    ])
    filled = grouped.select(
        *keys,
        F.col("_dr").alias("tile_row"), F.col("_dc").alias("tile_col"),
        *[
            F.coalesce(
                F.col(f"_f{b}_{c}"),
                F.expr(f"array_repeat({nulls}, {T * T})"),
            ).alias(f"_f{b}_{c}")
            for b in range(k) for c in range(k)
        ],
    )
    # canvas: per source-row-band b, T rows of width Tt (concat of the
    # band's k role slices per row), bands concatenated — all constants
    band_exprs = []
    for b in range(k):
        row = ", ".join(
            f"slice(_f{b}_{c}, r * {T} + 1, {T})" for c in range(k)
        )
        band_exprs.append(
            f"flatten(transform(sequence(0, {T - 1}), r -> "
            f"concat({row})))"
        )
    canvas = "concat(" + ", ".join(band_exprs) + ")" if k > 1 else \
        band_exprs[0]
    df = filled.select(
        *keys, "tile_row", "tile_col", F.expr(canvas).alias("data"),
    )
    return TiledCube(df, out_schema_obj, Tt, n_y, n_x)


def _retile_python(
    tc: TiledCube,
    new_tile: int,
    row0: int,
    col0: int,
    n_y: int,
    n_x: int,
    out_schema_obj,
) -> TiledCube:
    """The general tile-edge-changing repack: :func:`_gather_tiles`
    with the identity window map (output tile R reads source rows
    ``row0 + [R·Tt, min((R+1)·Tt, n_y))``). Kept for Tt != T
    (merge_cubes auto-retile, cross-edge resample, every windowed edge
    change); the same-edge window case dispatches to
    :func:`_retile_same_edge_jvm` (also the slow leg of the
    filter_bbox A/B recorded in PLANS.md)."""
    import numpy as np

    Tt = new_tile

    def window(off: int, n: int) -> list:
        return [off + np.arange(j0, min(j0 + Tt, n))
                for j0 in range(0, n, Tt)]

    return _gather_tiles(
        tc, window(row0, n_y), window(col0, n_x),
        lambda R, C, canvas: _nan_pad(canvas, Tt),
        out_schema_obj, Tt, n_y, n_x,
    )


def filter_bbox_tiled_native(
    tc: TiledCube, west: float, east: float, south: float, north: float
) -> TiledCube:
    """``filter_bbox`` that STAYS on tiles: the kept pixel window is
    exact index arithmetic (candidates corrected against the long
    filter's own float comparisons, the ``static_scene_dims``
    discipline), outside tiles prune at the scan, and the window
    repacks onto tiles anchored at its corner via :func:`retile` — one
    exchange of the kept window, and downstream tile-native operators
    keep their layout instead of paying re-pack after the expanding
    :func:`filter_bbox_tiled`.

    The re-anchored grid must regenerate every kept coordinate
    BIT-EXACTLY (``x0 + resx·(ix0+i)`` vs ``(x0 + resx·ix0) + resx·i``
    differ by an ulp on non-dyadic grids) — verified in plan time over
    the window; a drifting axis raises
    :class:`TiledRegridUnsupported` and the planner falls back to the
    expanding slice. An empty window returns an empty 0×0 cube."""
    import math

    import numpy as np

    from .cube import GridSpec

    g = tc.schema.grid
    if g is None:
        raise ValueError("filter_bbox_tiled_native needs a GridSpec")
    T = tc.tile

    def axis_window_asc(lo_v, hi_v, o, res, n):
        """[first, last] kept index for coords o + res·i in
        [lo_v, hi_v] — float-floor candidates corrected against the
        long between-predicate's own comparisons (the
        static_scene_dims discipline)."""
        i0 = max(0, math.floor((lo_v - o) / res))
        while i0 < n and o + res * i0 < lo_v:
            i0 += 1
        while i0 > 0 and o + res * (i0 - 1) >= lo_v:
            i0 -= 1
        i1 = min(n - 1, math.floor((hi_v - o) / res))
        while i1 >= 0 and o + res * i1 > hi_v:
            i1 -= 1
        while i1 + 1 <= n - 1 and o + res * (i1 + 1) <= hi_v:
            i1 += 1
        return i0, i1

    def axis_window_desc(lo_v, hi_v, o, res, n):
        """[first, last] kept index for coords o − res·i in
        [lo_v, hi_v] (descending axis: index 0 is the TOP)."""
        i0 = max(0, math.floor((o - hi_v) / res))
        while i0 < n and o - res * i0 > hi_v:
            i0 += 1
        while i0 > 0 and o - res * (i0 - 1) <= hi_v:
            i0 -= 1
        i1 = min(n - 1, math.floor((o - lo_v) / res))
        while i1 >= 0 and o - res * i1 < lo_v:
            i1 -= 1
        while i1 + 1 <= n - 1 and o - res * (i1 + 1) >= lo_v:
            i1 += 1
        return i0, i1

    iy0, iy1 = axis_window_desc(south, north, g.y0, g.resy, tc.n_y)
    ix0, ix1 = axis_window_asc(west, east, g.x0, g.resx, tc.n_x)
    if iy0 > iy1 or ix0 > ix1 or iy0 >= tc.n_y or ix0 >= tc.n_x:
        empty = tc.df.where(F.lit(False))
        return TiledCube(empty, tc.schema, T, 0, 0)
    ny_w, nx_w = iy1 - iy0 + 1, ix1 - ix0 + 1
    x0n = g.x0 + g.resx * ix0
    y0n = g.y0 - g.resy * iy0
    # bit-exactness of the re-anchored coordinates over the window
    i = np.arange(nx_w, dtype="float64")
    if not np.array_equal(g.x0 + g.resx * (ix0 + i), x0n + g.resx * i):
        raise TiledRegridUnsupported(
            "re-anchored x coordinates drift (non-dyadic grid); use the "
            "expanding filter_bbox_tiled"
        )
    i = np.arange(ny_w, dtype="float64")
    if not np.array_equal(g.y0 - g.resy * (iy0 + i), y0n - g.resy * i):
        raise TiledRegridUnsupported(
            "re-anchored y coordinates drift (non-dyadic grid); use the "
            "expanding filter_bbox_tiled"
        )
    pruned = tc.df.where(
        F.col("tile_col").between(ix0 // T, ix1 // T)
        & F.col("tile_row").between(iy0 // T, iy1 // T)
    )
    return retile(
        TiledCube(pruned, tc.schema, T, tc.n_y, tc.n_x),
        T, row0=iy0, col0=ix0, n_y=ny_w, n_x=nx_w,
        grid=GridSpec(x0=x0n, y0=y0n, resx=g.resx, resy=g.resy),
    )


def _ccw(poly):
    """Ring as float pairs, CW reversed to CCW (shoelace) — the shared
    orientation rule of convex_contains_col, the SQL zones literal and
    the zonal tagging stage (one normalization, three consumers)."""
    pts = [(float(x), float(y)) for x, y in poly]
    n = len(pts)
    area2 = sum(
        pts[j][0] * pts[(j + 1) % n][1] - pts[(j + 1) % n][0] * pts[j][1]
        for j in range(n)
    )
    return pts[::-1] if area2 < 0 else pts


def _zones_literal_sql(polygons) -> str:
    """The polygon list as ONE constant-foldable SQL expression:
    ``from_json('<zones json>', 'array<struct<id, bbox, edges>>')``.
    Rings are CW→CCW-normalized via :func:`_ccw` (the half-plane
    interior test's requirement; concave lists use only the bboxes);
    ``edges`` carries (x1, y1, x2, y2, dx, dy) per
    directed edge. Doubles go through json.dumps' shortest-round-trip
    repr and Jackson's exact parse — bit-identical to the Python float
    (oracle-pinned).

    Why from_json and not an array(named_struct(...)) literal: both are
    plan constants of O(total vertices) DATA with bounded generated
    code (the round-9 build was O(|zones|²) of py4j-built expression
    and broke the 64 KB codegen limit), but the ANTLR parse of a
    2025-zone literal costs ~11 s and its Literal node re-serializes
    per task, while the JSON string is ONE token — measured 0.9 s to
    plan and ~3× faster to evaluate (PLANS.md round-10)."""
    import json

    zs = []
    for i, poly in enumerate(polygons):
        pts = _ccw(poly)
        xs = [p[0] for p in pts]
        ys = [p[1] for p in pts]
        n = len(pts)
        zs.append({
            "id": i,
            "xmin": min(xs), "xmax": max(xs),
            "ymin": min(ys), "ymax": max(ys),
            "edges": [
                {
                    "x1": pts[j][0], "y1": pts[j][1],
                    "x2": pts[(j + 1) % n][0], "y2": pts[(j + 1) % n][1],
                    "dx": pts[(j + 1) % n][0] - pts[j][0],
                    "dy": pts[(j + 1) % n][1] - pts[j][1],
                }
                for j in range(n)
            ],
        })
    js = json.dumps(zs).replace("\\", "\\\\").replace("'", "''")
    schema = (
        "array<struct<id:int,xmin:double,xmax:double,ymin:double,"
        "ymax:double,edges:array<struct<x1:double,y1:double,x2:double,"
        "y2:double,dx:double,dy:double>>>>"
    )
    return f"from_json('{js}', '{schema}')"


# half-plane containment of (xc, yc) in zone lambda-var z, as a forall
# over its edge structs — bounded code regardless of vertex count
def _inside_sql(z: str, xc: str, yc: str) -> str:
    return (
        f"forall({z}.edges, e -> "
        f"e.dx * ({yc} - e.y1) - e.dy * ({xc} - e.x1) >= 0)"
    )


_ZONAL_REDUCERS = ("mean", "sum", "min", "max", "count", "sd", "variance",
                   "median", "product")


def aggregate_spatial_tiled(
    tc: TiledCube,
    polygons: list,
    reducer: str,
    target_dimension: str = "geom_id",
) -> Cube:
    """Zonal statistics natively on tiles — the long
    ``aggregate_spatial`` (reference ``openeo_odc_driver.py:628-684``)
    with the classic raster-zonal optimization: **geometry tests run
    per TILE, not per pixel, except on the polygon boundary.**

    The zone list is ONE plan literal (:func:`_zones_literal_sql`) and
    tile classification is bounded higher-order-function expressions
    over it — expression size is O(total vertices) of plan DATA (a
    single Literal object reference in codegen), never O(|zones|) of
    generated CODE, and the whole classification is two ``F.expr``
    parses regardless of zone count (the round-9 expression build was
    O(|zones|²), broke the 64 KB codegen limit at 4 fixture polygons,
    and died in the driver at realistic zone counts):

    - **touch** (``exists``, short-circuits): does any zone bbox
      intersect the tile's scene-clipped corner rectangle? Tiles with
      no touching zone drop at the scan; on the stored layout the
      predicate prunes row groups.
    - **interior** (``filter(...)[0]`` via the LET idiom, so the
      O(|zones|) scan runs once per tile row): the FIRST touching zone
      ``z0`` fully contains all 4 corners → every pixel of the tile
      provably first-matches ``z0`` (any earlier zone would bbox-touch
      and come first) → the whole tile folds to (Σ, Σx², count, min,
      max) partials with zero per-pixel geometry.
    - **boundary**: only these tiles run per-pixel geometry, and only
      against the tile's TOUCHING zones.

    At 10^12 px a country-sized polygon has O(area) interior tiles and
    O(perimeter) boundary tiles — the per-pixel geometry work drops by
    a factor of ~tile·(area/perimeter). One final exchange combines the
    partials per (geom, band[, time]); its key count is |polygons| ×
    |bands| × |times|, independent of raster size. Semantics match the
    long operator exactly: first-match geometry tagging, NULL values
    skipped, all-NULL zones NULL (count 0), pixel-less polygons absent.

    Reducers: mean / sum / min / max / count / sd / variance combine
    tile-level partials (sd and variance from exact (n, Σx, Σx²) — the
    long tier's ``reducers.sd_expr`` arithmetic); **median** and
    **product** need the pixel value multiset (exact percentile; the
    sorted-fold product whose rounding order the long
    ``reducers.product_expr`` pins), so tagged pixel VALUES flow into
    one exchange instead.

    The per-tile work is ONE Arrow-batched ``mapInPandas`` pass over
    the touched tiles (:func:`_zonal_numpy`): interior folds AND the
    boundary per-pixel tagging vectorized (half-plane tests as array
    ops against the same CCW edges; first-match by ascending id over
    untagged pixels), emitting per-(tile, zone) partials — no explode,
    no per-pixel interpreted lambdas, for both regimes: zones ≫ tile
    (interior folds dominate) and zones ≪ tile (every tile is boundary
    — measured 33× over a SQL posexplode tagging path at 2025 sub-tile
    zones on 12.6 M px, PLANS.md round-10).

    Concave polygons are native (round 10): the long operator switches
    ALL polygons to the even-odd ray-cast rule when any is concave, so
    the tiled tier mirrors it exactly — no interior claims (the
    4-corner proof is a convex property), every touched tile runs the
    per-pixel crossing test (the long UDF's own numpy arithmetic), and
    outside tiles still prune at the scan."""
    from ..functions.geometry import is_convex

    if reducer not in _ZONAL_REDUCERS:
        raise ValueError(
            f"reducer must be one of {_ZONAL_REDUCERS}, got {reducer!r}"
        )
    if not polygons:
        # the sargable prefilter below would die in min() over an empty
        # vertex list — name the error instead (ADVICE r10)
        raise ValueError(
            "aggregate_spatial_tiled needs at least one polygon"
        )
    all_cvx = all(is_convex(p) for p in polygons)
    if target_dimension in tc.df.columns:
        raise ValueError(
            f"target_dimension {target_dimension!r} collides with a "
            f"tiled column {tc.df.columns}; pick a fresh label"
        )
    g = tc.schema.grid
    if g is None:
        raise ValueError("aggregate_spatial_tiled needs a GridSpec")
    T = tc.tile
    keys = tc.key_dims

    # scene-clipped tile-corner coordinates, projected ONCE as real
    # columns (round 9 re-inlined these into every half-plane term)
    px_lo = F.col("tile_col").cast("long") * T
    px_hi = F.least(px_lo + (T - 1), F.lit(tc.n_x - 1))
    py_lo = F.col("tile_row").cast("long") * T
    py_hi = F.least(py_lo + (T - 1), F.lit(tc.n_y - 1))
    # sargable prefilter: the zone list's overall bbox as a raw
    # tile_row/tile_col range (filter_bbox_tiled's arithmetic). The
    # exists() classification below is a higher-order function and can
    # NEVER reach the parquet scan — this BETWEEN does, so on the
    # stored layout whole row groups outside every zone drop before
    # any array bytes are read; the exists() still decides exactly.
    import math

    axs = [float(p[0]) for poly in polygons for p in poly]
    ays = [float(p[1]) for poly in polygons for p in poly]
    src = tc.df.where(
        F.col("tile_col").between(
            math.floor((min(axs) - g.x0) / g.resx / T),
            math.floor((max(axs) - g.x0) / g.resx / T),
        )
        & F.col("tile_row").between(
            math.floor((g.y0 - max(ays)) / g.resy / T),
            math.floor((g.y0 - min(ays)) / g.resy / T),
        )
    )
    corner = src.select(
        *keys, "tile_row", "tile_col", "data",
        (F.lit(g.x0) + F.lit(g.resx) * px_lo).alias("_xlo"),
        (F.lit(g.x0) + F.lit(g.resx) * px_hi).alias("_xhi"),
        (F.lit(g.y0) - F.lit(g.resy) * py_hi).alias("_ylo"),  # south edge
        (F.lit(g.y0) - F.lit(g.resy) * py_lo).alias("_yhi"),  # north edge
    )
    zlit = _zones_literal_sql(polygons)
    bbox_touch = (
        "z.xmin <= _xhi AND z.xmax >= _xlo "
        "AND z.ymin <= _yhi AND z.ymax >= _ylo"
    )
    # short-circuiting scan drops outside tiles
    any_touch = f"exists({zlit}, z -> {bbox_touch})"
    # LET idiom (see to_tiled): bind the filtered touching-zone list
    # once; a bare alias would be re-inlined by CollapseProject into
    # every reference, re-running the O(|zones|) scan per use
    inside4 = " AND ".join(
        _inside_sql("tz[0]", xc, yc)
        for xc in ("_xlo", "_xhi") for yc in ("_ylo", "_yhi")
    )
    ig_expr = (
        f"transform(array(filter({zlit}, z -> {bbox_touch})), "
        f"tz -> CASE WHEN {inside4} THEN tz[0].id END)[0]"
    )
    # the 4-corner interior proof is a CONVEX property; with any
    # concave zone in the list the long operator switches every
    # polygon to the ray-cast rule, so the tiled tier mirrors it:
    # no interior claims (all touched tiles run per-pixel crossing
    # tests — outside tiles still prune at the scan) and the
    # crossing arithmetic matches the UDF bit-for-bit
    staged = corner.where(F.expr(any_touch)).withColumn(
        "_ig",
        F.expr(ig_expr) if all_cvx else F.lit(None).cast("int"),
    )

    return _zonal_numpy(
        tc, staged, polygons, reducer, target_dimension, all_cvx
    )


def _zonal_numpy(
    tc: TiledCube,
    staged,
    polygons: list,
    reducer: str,
    target_dimension: str,
    all_cvx: bool = True,
) -> Cube:
    """Vectorized zonal engine: ONE ``mapInPandas`` pass over the
    touched tiles computes interior folds AND boundary per-pixel
    first-match tagging as numpy array ops (the long operator's CCW
    edges, ``x0 + resx·ix`` coordinate arithmetic and half-plane sign
    test — pinned ≡ the long tier by pytest on every reducer). Per tile the cost is
    O(touching zones · tile²) vectorized flops; no posexplode, no
    interpreted lambdas, no per-pixel rows except for median, where
    the tagged pixel VALUES (not coordinates) stream into one exact
    percentile exchange."""
    import numpy as np
    import pandas as pd
    from typing import Iterator

    keys = tc.key_dims
    T, T2 = tc.tile, tc.tile * tc.tile
    g = tc.schema.grid
    n_y, n_x = tc.n_y, tc.n_x
    x0, y0, resx, resy = g.x0, g.y0, g.resx, g.resy
    # CCW for half-planes; ORIGINAL order under any concavity so the
    # even-odd interpolation rounds exactly like the long ray-cast UDF
    zs = [
        _ccw(p) if all_cvx else [(float(x), float(y)) for x, y in p]
        for p in polygons
    ]
    zxmin = np.array([min(x for x, _ in p) for p in zs])
    zxmax = np.array([max(x for x, _ in p) for p in zs])
    zymin = np.array([min(y for _, y in p) for p in zs])
    zymax = np.array([max(y for _, y in p) for p in zs])
    edges = [
        [(x1, y1, x2 - x1, y2 - y1)
         for (x1, y1), (x2, y2) in zip(p, p[1:] + p[:1])]
        for p in zs
    ]
    pos = np.arange(T2)
    yi0, xi0 = pos // T, pos % T

    def tile_tags(tr: int, tcl: int) -> "np.ndarray":
        """Per-pixel zone id (−1 untagged) for one boundary tile —
        first-match by ascending id over still-untagged pixels."""
        y_idx = tr * T + yi0
        x_idx = tcl * T + xi0
        in_scene = (y_idx < n_y) & (x_idx < n_x)
        x = x0 + resx * x_idx.astype("float64")
        y = y0 - resy * y_idx.astype("float64")
        xlo = x0 + resx * (tcl * T)
        xhi = x0 + resx * min(tcl * T + T - 1, n_x - 1)
        yhi = y0 - resy * (tr * T)
        ylo = y0 - resy * min(tr * T + T - 1, n_y - 1)
        touch = np.where(
            (zxmin <= xhi) & (zxmax >= xlo)
            & (zymin <= yhi) & (zymax >= ylo)
        )[0]
        tag = np.full(T2, -1, dtype="int64")
        for zid in touch:
            cand = (tag < 0) & in_scene
            if not cand.any():
                break
            m = (
                cand
                & (x >= zxmin[zid]) & (x <= zxmax[zid])
                & (y >= zymin[zid]) & (y <= zymax[zid])
            )
            if not m.any():
                continue
            xm, ym = x[m], y[m]
            if all_cvx:
                inside = np.ones(len(xm), dtype=bool)
                for (ex, ey, dx, dy) in edges[zid]:
                    inside &= (dx * (ym - ey) - dy * (xm - ex)) >= 0.0
            else:
                from ..operators.filters import _ray_cast_contains

                inside = _ray_cast_contains(xm, ym, zs[zid])
            tag[np.where(m)[0][inside]] = zid
        return tag

    if reducer in ("median", "product"):
        out_schema = f"{target_dimension} int, " + _ddl(
            staged.schema, keys, f"{VALUE} double"
        )

        def emit(batches: "Iterator[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
            for pdf in batches:
                if not len(pdf):
                    continue
                datas = pdf["data"].to_numpy()
                igs = pdf["_ig"].to_numpy()
                trs = pdf["tile_row"].to_numpy()
                tcs = pdf["tile_col"].to_numpy()
                kv = {k: pdf[k].to_numpy() for k in keys}
                gs, vs, reps = [], [], []
                for i in range(len(pdf)):
                    vals = np.asarray(datas[i], dtype="float64")
                    if not (igs[i] is None or pd.isna(igs[i])):
                        y_idx = int(trs[i]) * T + yi0
                        x_idx = int(tcs[i]) * T + xi0
                        tag = np.where(
                            (y_idx < n_y) & (x_idx < n_x),
                            int(igs[i]), -1,
                        )
                    else:
                        tag = tile_tags(int(trs[i]), int(tcs[i]))
                    sel = tag >= 0
                    if not sel.any():
                        continue
                    v = vals[sel].astype(object)
                    v[np.isnan(vals[sel])] = None
                    gs.append(tag[sel])
                    vs.append(v)
                    reps.append((i, int(sel.sum())))
                if not gs:
                    continue
                out = {target_dimension: np.concatenate(gs).astype("int32")}
                for k in keys:
                    out[k] = np.concatenate(
                        [np.repeat(kv[k][i], n) for i, n in reps]
                    )
                out[VALUE] = np.concatenate(vs)
                yield pd.DataFrame(out)

        from ..operators.reducers import median_expr, product_expr

        agg = median_expr(VALUE) if reducer == "median" else product_expr(VALUE)
        px = staged.mapInPandas(emit, out_schema)
        out = (
            px.groupBy(target_dimension, *keys)
            .agg(agg.alias(VALUE))
        )
        return Cube(out, tc.schema.drop(X).drop(Y))

    part_schema = f"{target_dimension} int, " + _ddl(
        staged.schema, keys,
        "_s double, _ss double, _c bigint, _mn double, _mx double",
    )

    def partials(batches: "Iterator[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
        for pdf in batches:
            if not len(pdf):
                continue
            datas = pdf["data"].to_numpy()
            igs = pdf["_ig"].to_numpy()
            trs = pdf["tile_row"].to_numpy()
            tcs = pdf["tile_col"].to_numpy()
            kv = {k: pdf[k].to_numpy() for k in keys}
            rows = {target_dimension: [], "_s": [], "_ss": [], "_c": [],
                    "_mn": [], "_mx": [], **{k: [] for k in keys}}

            def add(i, zid, v):
                ok = v[~np.isnan(v)]
                rows[target_dimension].append(zid)
                for k in keys:
                    rows[k].append(kv[k][i])
                rows["_s"].append(float(ok.sum()))
                rows["_ss"].append(float((ok * ok).sum()))
                rows["_c"].append(len(ok))
                rows["_mn"].append(float(ok.min()) if len(ok) else None)
                rows["_mx"].append(float(ok.max()) if len(ok) else None)

            for i in range(len(pdf)):
                vals = np.asarray(datas[i], dtype="float64")
                if not (igs[i] is None or pd.isna(igs[i])):
                    # interior: padding positions are NULL by
                    # construction, so no scene mask is needed
                    add(i, int(igs[i]), vals)
                else:
                    tag = tile_tags(int(trs[i]), int(tcs[i]))
                    for zid in np.unique(tag[tag >= 0]):
                        add(i, int(zid), vals[tag == zid])
            if rows["_c"]:
                yield pd.DataFrame(rows)

    # ONE exchange keyed by (geom, band[, time]) combines the
    # per-(tile, zone) partials; key count independent of raster size
    out = (
        staged.mapInPandas(partials, part_schema)
        .groupBy(target_dimension, *keys)
        .agg(_partial_finish(reducer).alias(VALUE))
    )
    return Cube(out, tc.schema.drop(X).drop(Y))
