"""Round-12 pins.

VP8L predictor vectorization (VERDICT r11 item 4): rows whose mode
blocks are all previous-row-only (0/2/3/4/8/9) invert as whole-row
numpy expressions; these tests pin that the fast path is bit-identical
to the scalar scan it replaces — per-mode round-trips through the real
bitstream, and the forward/inverse property over random mixed grids
that interleave vectorized and scalar rows.
"""
import numpy as np
import pytest

from openeo_odc_driver_spark.pipeline.webp import (
    _ROW_PARALLEL_MODES,
    _fwd_predictor,
    _inv_predictor,
    decode_webp,
    encode_webp,
)

RNG_IMG = np.random.default_rng(12).integers(0, 256, (19, 23, 3), dtype=np.uint8)


@pytest.mark.parametrize("mode", sorted(_ROW_PARALLEL_MODES))
def test_vp8l_row_parallel_mode_round_trip(mode):
    """Uniform previous-row-only predictor → every row but row 0 takes
    the vectorized path; the full encode/decode round-trip must stay
    lossless."""
    payload = encode_webp(RNG_IMG, predictor_mode=mode)
    out = decode_webp(payload)
    assert (out == RNG_IMG).all(), f"mode {mode}"


def _rand_argb(rng, h, w):
    return (np.uint32(0xFF000000)
            | rng.integers(0, 1 << 24, (h, w), dtype=np.uint32))


@pytest.mark.parametrize("seed,h,w,size_bits", [
    (1, 17, 29, 2), (2, 8, 8, 2), (3, 33, 5, 3), (4, 9, 64, 4),
])
def test_inv_predictor_inverts_fwd_on_mixed_grids(seed, h, w, size_bits):
    """Random mode grids mixing row-parallel and left-referencing modes
    (so vectorized rows sit between scalar rows and read their output):
    _inv_predictor(_fwd_predictor(img)) == img, alpha included."""
    rng = np.random.default_rng(seed)
    img = _rand_argb(rng, h, w)
    bh = ((h - 1) >> size_bits) + 1
    bw = ((w - 1) >> size_bits) + 1
    modes = rng.integers(0, 14, (bh, bw), dtype=np.int64)
    # force some all-row-parallel block rows so the fast path runs
    row_par = sorted(_ROW_PARALLEL_MODES)
    for i in range(0, bh, 2):
        modes[i] = rng.choice(row_par, bw)
    res = _fwd_predictor(img, size_bits, modes)
    back = _inv_predictor(res, size_bits, modes)
    assert (back == img).all()


def test_inv_predictor_row_parallel_only_grid():
    """A grid drawn purely from the row-parallel set (every row after
    row 0 vectorizes, including the TR wrap at the last column)."""
    rng = np.random.default_rng(99)
    img = _rand_argb(rng, 21, 31)
    modes = rng.choice(sorted(_ROW_PARALLEL_MODES), (6, 8)).astype(np.int64)
    res = _fwd_predictor(img, 2, modes)
    assert (_inv_predictor(res, 2, modes) == img).all()


# --- JVM same-edge window repack (VERDICT r11 item 2) ------------------------


def _window_cases():
    # (row0, col0, n_y, n_x) windows over a 16x16 scene, tile 4:
    # unaligned both axes / rows-aligned / cols-aligned / aligned
    # interior / sub-tile window / scene-edge-hugging window
    return [
        (3, 5, 9, 7),
        (4, 5, 8, 7),
        (3, 8, 9, 8),
        (4, 8, 8, 4),
        (1, 2, 3, 2),
        (6, 7, 10, 9),
    ]


@pytest.mark.parametrize("row0,col0,n_y,n_x", _window_cases())
def test_retile_same_edge_jvm_matches_python(spark, row0, col0, n_y, n_x):
    """The Catalyst same-edge window repack is row-for-row identical to
    the round-11 Python fragment machinery it replaced — across shift
    classes (dy/dx zero and non-zero), sub-tile windows, and windows
    ending at the scene edge."""
    import pandas as pd

    from openeo_odc_driver_spark.core import tiled as t
    from openeo_odc_driver_spark.sources.synthetic import synthetic_cube

    tc = t.to_tiled(synthetic_cube(spark), tile=4, n_y=16, n_x=16)
    jvm = t._retile_same_edge_jvm(tc, row0, col0, n_y, n_x, tc.schema)
    py = t._retile_python(tc, 4, row0, col0, n_y, n_x, tc.schema)
    assert (jvm.tile, jvm.n_y, jvm.n_x) == (py.tile, py.n_y, py.n_x)
    cols = ["band", "time", "tile_row", "tile_col"]
    a = jvm.df.toPandas().sort_values(cols).reset_index(drop=True)
    b = py.df.toPandas().sort_values(cols).reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b, check_exact=True)


def test_to_tiled_numpy_impl_matches_sql(spark):
    """to_tiled's packed rows match an independent pandas packing of the
    long cube — NULL cells, edge-tile padding, row-major positions —
    and duplicate pixel keys raise the named error."""
    import numpy as np
    import pandas as pd
    import pytest as _pt

    from openeo_odc_driver_spark.core import tiled as t
    from openeo_odc_driver_spark.core.cube import Cube
    from openeo_odc_driver_spark.sources.synthetic import synthetic_cube

    T = 5
    cube = synthetic_cube(spark)
    g = cube.schema.grid
    longp = cube.df.toPandas()
    yi = np.rint((g.y0 - longp["y"]) / g.resy).astype(int)
    xi = np.rint((longp["x"] - g.x0) / g.resx).astype(int)
    longp["tile_row"], longp["tile_col"] = yi // T, xi // T
    longp["_pos"] = (yi % T) * T + xi % T
    cols = ["band", "time", "tile_row", "tile_col"]
    want = {}
    for key, grp in longp.groupby(cols):
        arr = [None] * (T * T)
        for p, v in zip(grp["_pos"], grp["value"]):
            arr[p] = None if pd.isna(v) else float(v)
        want[key] = arr
    got = t.to_tiled(cube, tile=T, n_y=16, n_x=16).df.toPandas()
    assert len(got) == len(want)
    for rec in got.to_dict("records"):
        key = tuple(rec[c] for c in cols)
        data = [None if d is None or np.isnan(d) else d for d in rec["data"]]
        assert data == want[key], key

    dup = cube.df.unionAll(cube.df.limit(1))
    with _pt.raises(Exception, match="duplicate pixel keys"):
        t.to_tiled(
            Cube(dup, cube.schema), tile=T, n_y=16, n_x=16
        ).df.collect()


def test_band_quantiles_stay_tiled(spark):
    """apply_dimension(quantiles, dimension=bands) in tiled mode stays
    on tiles (round 12) and matches the long plan exactly."""
    import pandas as pd

    from openeo_odc_driver_spark.plans.graph import ProcessGraph

    graph = {"process_graph": {
        "l": {"process_id": "load_collection",
              "arguments": {"id": "synthetic"}},
        "qs": {
            "process_id": "apply_dimension",
            "arguments": {
                "data": {"from_node": "l"},
                "dimension": "bands",
                "process": {"process_graph": {
                    "p": {"process_id": "quantiles",
                          "arguments": {
                              "data": {"from_parameter": "data"},
                              "probabilities": [0.25, 0.5, 0.75],
                          },
                          "result": True},
                }},
            },
            "result": True,
        },
    }}
    pg = ProcessGraph(graph, save_dir="/tmp/pg_bq_tiled", tiled=True)
    tiled_out = pg.execute(spark)
    assert pg.tiled_demotions == []
    long_out = ProcessGraph(
        graph, save_dir="/tmp/pg_bq_long"
    ).execute(spark)
    cols = sorted(tiled_out.df.columns)
    a = tiled_out.df.toPandas()[cols].sort_values(cols).reset_index(drop=True)
    b = long_out.df.toPandas()[cols].sort_values(cols).reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b, check_exact=True, check_dtype=False)


# --- band-expression reducer, tiled vs long tier -----------------------------


def _band_graph(pid_tree):
    """Tiny helper: build an openEO reducer sub-graph from a nested
    spec; leaves are band labels or numbers."""
    counter = [0]
    nodes = {}

    def emit(spec):
        if isinstance(spec, str):  # band label
            counter[0] += 1
            nid = f"n{counter[0]}"
            nodes[nid] = {"process_id": "array_element",
                          "arguments": {"data": {"from_parameter": "data"},
                                        "label": spec}}
            return {"from_node": nid}
        if isinstance(spec, (int, float)):
            return spec
        pid, *args = spec
        counter[0] += 1
        nid = f"n{counter[0]}"
        if pid in ("clip",):
            nodes[nid] = {"process_id": pid, "arguments": {
                "x": emit(args[0]), "min": args[1], "max": args[2]}}
        elif pid == "linear_scale_range":
            nodes[nid] = {"process_id": pid, "arguments": {
                "x": emit(args[0]), "inputMin": args[1],
                "inputMax": args[2], "outputMin": args[3],
                "outputMax": args[4]}}
        elif pid == "log":
            nodes[nid] = {"process_id": pid, "arguments": {
                "x": emit(args[0]), "base": args[1]}}
        elif len(args) == 1:
            nodes[nid] = {"process_id": pid,
                          "arguments": {"x": emit(args[0])}}
        else:
            nodes[nid] = {"process_id": pid, "arguments": {
                "x": emit(args[0]), "y": emit(args[1])}}
        return {"from_node": nid}

    ref = emit(pid_tree)
    nodes[ref["from_node"]]["result"] = True
    return nodes


_TWIN_GRAPHS = {
    "ndvi_spelled": ("divide", ("subtract", "B08", "B04"),
                     ("add", "B08", "B04")),
    "normdiff": ("normalized_difference", "B08", "B04"),
    "div_by_band_with_zeros": ("divide", "B08", "SCL"),
    "mod_bands": ("mod", "B08", "B04"),
    "clip_null_to_lo": ("clip", "B04", -1.0, 2.5),
    "lsr": ("linear_scale_range", "B08", -6.0, 6.0, 0.0, 255.0),
    "floor_ceil_int": ("add", ("floor", "B04"),
                       ("subtract", ("ceil", "B08"), ("int", "SCL"))),
    "const_mix": ("add", ("multiply", "B08", 2.0), 3.5),
}


@pytest.mark.parametrize("name", sorted(_TWIN_GRAPHS))
def test_band_expr_numpy_twin_matches_sql(spark, name):
    """The tiled band-expression reducer against the long-tier one it
    twins, on the fixture's mixed data (negatives, zeros, ~4% NULLs):
    exact frame equality. Pins the non-ANSI corners across tiers —
    x/0 → NULL, clip(NULL) → lo, mod via composed floor-divide, and
    constant operands."""
    import pandas as pd

    from openeo_odc_driver_spark.core.tiled import to_tiled, from_tiled
    from openeo_odc_driver_spark.plans.graph import (
        _reduce_bands_expression,
        _reduce_bands_expression_tiled,
    )
    from openeo_odc_driver_spark.sources.synthetic import synthetic_cube

    child = _band_graph(_TWIN_GRAPHS[name])
    cube = synthetic_cube(spark)
    tc = to_tiled(cube, tile=8, n_y=16, n_x=16)
    a = from_tiled(_reduce_bands_expression_tiled(tc, child)).df
    b = _reduce_bands_expression(cube, child).df
    cols = sorted(b.columns)
    pa = a.toPandas()[cols].sort_values(cols).reset_index(drop=True)
    pb = b.toPandas()[cols].sort_values(cols).reset_index(drop=True)
    pd.testing.assert_frame_equal(pa, pb, check_exact=True)


def test_filter_bbox_native_store_pushes_tile_range(spark):
    """The JVM stay-tiled filter_bbox over a save_tiled STORE: the
    tile-range prune reaches the parquet scan (PushedFilters carries
    tile_row/tile_col), so row groups outside the box never read their
    array bytes — the storage-first pruning claim of the round-12
    repack, pinned on real explain output. Values verified against the
    long filter + reducer."""
    import os
    import shutil
    import tempfile

    import pandas as pd

    from openeo_odc_driver_spark.core import tiled as t
    from openeo_odc_driver_spark.operators.filters import filter_bbox
    from openeo_odc_driver_spark.operators.reducers import reduce_dimension
    from openeo_odc_driver_spark.sources.synthetic import synthetic_cube

    src = synthetic_cube(spark)
    work = tempfile.mkdtemp(prefix="fb_store_")
    try:
        path = os.path.join(work, "store")
        t.save_tiled(t.to_tiled(src, tile=4, n_y=16, n_x=16), path)
        tc = t.load_tiled(spark, path)
        # SE-quadrant box: pixels x in [90,150], y in [0,60] -> tiles
        # (2..3, 2..3) of the 4x4 grid
        win = t.filter_bbox_tiled_native(tc, 90.0, 150.0, 0.0, 60.0)
        red = t.reduce_time_tiled(win, "mean")
        phys = red.df._jdf.queryExecution().executedPlan().toString()
        pushed = [ln for ln in phys.splitlines() if "PushedFilters" in ln]
        assert pushed, phys[:2000]
        assert any("tile_row" in ln and "tile_col" in ln
                   for ln in pushed), pushed
        long_df = reduce_dimension(
            filter_bbox(src, 90.0, 150.0, 0.0, 60.0), "time", "mean"
        ).df
        cols = sorted(long_df.columns)
        a = t.from_tiled(red).df.toPandas()[cols].sort_values(
            cols).reset_index(drop=True)
        b = long_df.toPandas()[cols].sort_values(cols).reset_index(drop=True)
        pd.testing.assert_frame_equal(a, b, check_exact=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)
