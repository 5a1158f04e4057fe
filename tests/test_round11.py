"""Round-11 pins: tiled resample_cube_temporal / resample_cube_spatial
(the regrid-before-merge alignment, previously a from_tiled demotion),
the retile layout adapter, and the demotion-free alignment graph.
"""
import pandas as pd
import pytest

from openeo_odc_driver_spark.core import tiled as t
from openeo_odc_driver_spark.core.cube import Cube, CubeSchema, GridSpec
from openeo_odc_driver_spark.operators.resample import (
    resample_cube_spatial,
    resample_cube_temporal,
)
from openeo_odc_driver_spark.sources.synthetic import (
    DEFAULT_SPEC,
    SPEC_B_TIMES,
    CubeSpec,
    synthetic_cube,
)


def _frames_equal(a_df, b_df):
    cols = sorted(a_df.columns)
    a = a_df.toPandas()[cols].sort_values(cols).reset_index(drop=True)
    b = b_df.toPandas()[cols].sort_values(cols).reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b, check_exact=True, check_dtype=False)
    return len(a)


# --- resample_cube_temporal on tiles ---------------------------------------


def test_resample_cube_temporal_tiled_matches_long(spark):
    src, tgt = synthetic_cube(spark), synthetic_cube(spark, SPEC_B_TIMES)
    long_df = resample_cube_temporal(src, tgt).df
    tiled = t.resample_cube_temporal_tiled(
        t.to_tiled(src, tile=8, n_y=16, n_x=16),
        t.to_tiled(tgt, tile=8, n_y=16, n_x=16),
    )
    n = _frames_equal(long_df, t.from_tiled(tiled).df)
    assert n == 3 * 24 * 16 * 16
    # output inherits the TARGET's time metadata (the long rule)
    assert tiled.schema.time_extent == tgt.schema.time_extent


def test_resample_cube_temporal_tiled_accepts_long_target(spark):
    """The target only contributes a time axis — a long Cube works."""
    src, tgt = synthetic_cube(spark), synthetic_cube(spark, SPEC_B_TIMES)
    tiled = t.resample_cube_temporal_tiled(
        t.to_tiled(src, tile=8, n_y=16, n_x=16), tgt
    )
    _frames_equal(resample_cube_temporal(src, tgt).df, t.from_tiled(tiled).df)


# --- resample_cube_spatial on tiles ----------------------------------------


_COARSE2 = GridSpec(x0=0.0, y0=150.0, resx=20.0, resy=20.0)


def _target(src, grid):
    return Cube(
        src.df,
        CubeSchema(bands=DEFAULT_SPEC.bands, crs="EPSG:32632", grid=grid),
    )


def test_resample_cube_spatial_tiled_k2_edge_cell(spark):
    """k=2 on a 16-px axis: the last source pixel rounds UP past cell 7
    (floor(15/2+0.5)=8), so the long snap emits a 9th cell per axis whose
    winner is that last pixel — the tiled op must reproduce it exactly."""
    src = synthetic_cube(spark)
    target = _target(src, _COARSE2)
    tiled = t.resample_cube_spatial_tiled(
        t.to_tiled(src, tile=8, n_y=16, n_x=16), target
    )
    assert (tiled.n_y, tiled.n_x) == (9, 9)
    n = _frames_equal(
        resample_cube_spatial(src, target).df, t.from_tiled(tiled).df
    )
    assert n == 3 * 24 * 9 * 9
    assert tiled.schema.grid == _COARSE2


def test_resample_cube_spatial_tiled_partial_tiles_k4(spark):
    """tile=5 partial source tiles under a k=4 snap: the edge cell's
    winner (source pixel 15, not 12) crosses a tile boundary."""
    src = synthetic_cube(spark)
    target = _target(src, GridSpec(x0=0.0, y0=150.0, resx=40.0, resy=40.0))
    tiled = t.resample_cube_spatial_tiled(
        t.to_tiled(src, tile=5, n_y=16, n_x=16), target
    )
    assert (tiled.n_y, tiled.n_x) == (5, 5)
    _frames_equal(resample_cube_spatial(src, target).df, t.from_tiled(tiled).df)


def test_resample_cube_spatial_tiled_no_edge_cell(spark):
    """17×13 scene, k=3: the y axis has a sub-half remainder (no extra
    cell) and the x axis lands exactly — both round-down regimes."""
    spec = CubeSpec(nx=13, ny=17)
    src = synthetic_cube(spark, spec)
    target = Cube(
        src.df,
        CubeSchema(
            bands=spec.bands,
            crs="EPSG:32632",
            grid=GridSpec(x0=0.0, y0=150.0, resx=30.0, resy=30.0),
        ),
    )
    tiled = t.resample_cube_spatial_tiled(
        t.to_tiled(src, tile=8, n_y=17, n_x=13), target
    )
    assert (tiled.n_y, tiled.n_x) == (6, 5)
    _frames_equal(resample_cube_spatial(src, target).df, t.from_tiled(tiled).df)


def test_resample_cube_spatial_tiled_upscale_relabels(spark):
    """Round 12 flips this pin: an upscale snap is an injective
    RELABEL (gap cells have no rows in the long output either), so the
    tiled path re-anchors the grid with zero data movement and matches
    the long operator exactly (`tiled_resample_cube_spatial_upscale`
    gate row shares the long oracle). The uncoverable demotion moved to
    NON-UNIFORM strides (test_resample_nonuniform_stride_demotes…)."""
    from openeo_odc_driver_spark.operators.resample import (
        resample_cube_spatial,
    )

    src = synthetic_cube(spark)
    target = _target(src, GridSpec(x0=0.0, y0=150.0, resx=5.0, resy=5.0))
    tc = t.resample_cube_spatial_tiled(
        t.to_tiled(src, tile=8, n_y=16, n_x=16), target
    )
    # zero data movement: the tile DataFrame is the input's, unchanged
    assert tc.tile == 8 and (tc.n_y, tc.n_x) == (16, 16)
    _frames_equal(
        t.from_tiled(tc).df, resample_cube_spatial(src, target).df
    )

    # off-scene target origin: still a demotion (winner map rejects the
    # anchor, relabel rejects the colliding downscale snap)
    far = _target(src, GridSpec(x0=-500.0, y0=150.0, resx=20.0, resy=20.0))
    with pytest.raises(t.TiledRegridUnsupported):
        t.resample_cube_spatial_tiled(
            t.to_tiled(src, tile=8, n_y=16, n_x=16), far
        )


def test_resample_cube_spatial_tiled_rational_factor(spark):
    """10 m → 15 m (the Sentinel-2 60 m band mix shape): a RATIONAL
    factor with real per-axis distance ties (a target center exactly
    between two source pixels ties to the smaller x / larger row) —
    winner maps reproduce the long window snap exactly."""
    src = synthetic_cube(spark)
    target = _target(src, GridSpec(x0=0.0, y0=150.0, resx=15.0, resy=15.0))
    tiled = t.resample_cube_spatial_tiled(
        t.to_tiled(src, tile=8, n_y=16, n_x=16), target
    )
    _frames_equal(resample_cube_spatial(src, target).df, t.from_tiled(tiled).df)


def test_resample_cube_spatial_tiled_shifted_origin(spark):
    """A target origin shifted by half a source cell still covers the
    snapped scene — the winner maps absorb the offset."""
    src = synthetic_cube(spark)
    target = _target(src, GridSpec(x0=5.0, y0=145.0, resx=20.0, resy=20.0))
    tiled = t.resample_cube_spatial_tiled(
        t.to_tiled(src, tile=5, n_y=16, n_x=16), target
    )
    _frames_equal(resample_cube_spatial(src, target).df, t.from_tiled(tiled).df)


# --- retile -----------------------------------------------------------------


def test_retile_roundtrip(spark):
    """8 → 5 repack (partial destination tiles) is pixel-lossless."""
    src = synthetic_cube(spark)
    rt = t.retile(t.to_tiled(src, tile=8, n_y=16, n_x=16), 5)
    assert (rt.tile, rt.n_y, rt.n_x) == (5, 16, 16)
    n = _frames_equal(src.df, t.from_tiled(rt).df)
    assert n == 3 * 24 * 16 * 16


def test_retile_identity_is_free(spark):
    tc = t.to_tiled(synthetic_cube(spark), tile=8, n_y=16, n_x=16)
    assert t.retile(tc, 8) is tc


# --- planner: the alignment graph stays on tiles ----------------------------


def test_resample_align_graph_demotion_free(spark):
    """The two-collection alignment graph (resample_cube_spatial +
    resample_cube_temporal) executes tiled with ZERO demotions and ONE
    Generate — the final result expansion, nothing mid-graph."""
    from openeo_odc_driver_spark.plans.graph import ProcessGraph

    pg = ProcessGraph.from_file(
        "tests/process_graphs/resample_align.json",
        save_dir="/tmp/pg_align_pytest",
        tiled=True,
    )
    cube = pg.execute(spark)
    assert pg.tiled_demotions == []
    plan = cube.df._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("Generate") == 1

    long_pg = ProcessGraph.from_file(
        "tests/process_graphs/resample_align.json",
        save_dir="/tmp/pg_align_pytest_long",
    )
    _frames_equal(long_pg.execute(spark).df, cube.df)


def test_resample_upscale_stays_tiled(spark):
    """Round 12 (VERDICT item 3): an UPSCALE snap (target finer than
    source) is an injective relabel — the tiled path re-anchors the
    grid with ZERO data movement instead of demoting, and matches the
    long plan exactly. (This test asserted the demotion until round 12
    removed it; non-uniform snap strides still demote — next test.)"""
    import json

    from openeo_odc_driver_spark.plans.graph import ProcessGraph

    graph = json.load(open("tests/process_graphs/resample_align.json"))
    # make the target the FINE collection: synthetic_coarse → synthetic
    graph["process_graph"]["snap"]["arguments"]["data"] = {
        "from_node": "loadc"
    }
    graph["process_graph"]["snap"]["arguments"]["target"] = {
        "from_node": "loadf"
    }
    del graph["process_graph"]["align"]
    graph["process_graph"]["snap"]["result"] = True
    pg = ProcessGraph(graph, save_dir="/tmp/pg_align_up", tiled=True)
    tiled_out = pg.execute(spark)
    assert pg.tiled_demotions == []
    long_pg = ProcessGraph(graph, save_dir="/tmp/pg_align_up_long")
    _frames_equal(tiled_out.df, long_pg.execute(spark).df)


def test_resample_nonuniform_stride_demotes_not_errors(spark):
    """A snap whose stride is NON-uniform (res 10 → 4: J = floor(2.5i
    + 0.5) steps 3,2,3,2…) has no lattice a dense tile can label — it
    demotes to the long snap, never errors."""
    from dataclasses import replace

    from openeo_odc_driver_spark.core.cube import Cube, CubeSchema, GridSpec
    from openeo_odc_driver_spark.core.tiled import (
        TiledRegridUnsupported,
        resample_cube_spatial_tiled,
        to_tiled,
    )
    from openeo_odc_driver_spark.sources.synthetic import synthetic_cube

    cube = synthetic_cube(spark)
    tgt = Cube(cube.df, replace(
        cube.schema, grid=GridSpec(x0=0.0, y0=150.0, resx=4.0, resy=4.0)
    ))
    with pytest.raises(TiledRegridUnsupported):
        resample_cube_spatial_tiled(
            to_tiled(cube, tile=8, n_y=16, n_x=16), tgt
        )


# --- x/y reducers, period median, zonal product on tiles ---------------------


def test_reduce_spatial_tiled_engines_match_long(spark):
    """The spatial-axis reducers reproduce the long reduce_dimension
    exactly — aligned (tile=8) and partial (tile=5) tiles, every
    partial-foldable reducer."""
    from openeo_odc_driver_spark.operators.reducers import reduce_dimension

    src = synthetic_cube(spark)
    tc8 = t.to_tiled(src, tile=8, n_y=16, n_x=16)
    tc5 = t.to_tiled(src, tile=5, n_y=16, n_x=16)
    for tc in (tc8, tc5):
        for dim in ("x", "y"):
            for red in ("mean", "sum", "min", "max", "count", "sd",
                        "variance"):
                _frames_equal(
                    reduce_dimension(src, dim, red).df,
                    t.reduce_spatial_tiled(tc, dim, red).df,
                )


def test_reduce_spatial_tiled_rejects_unknown(spark):
    tc = t.to_tiled(synthetic_cube(spark), tile=8, n_y=16, n_x=16)
    # median/product became native (the multiset path) later in r11;
    # unknown names and non-spatial dims still raise
    with pytest.raises(ValueError, match="reducer"):
        t.reduce_spatial_tiled(tc, "x", "mode")
    with pytest.raises(ValueError, match="dim"):
        t.reduce_spatial_tiled(tc, "time", "sum")


def test_aggregate_period_median_tiled_matches_long(spark):
    from openeo_odc_driver_spark.operators.aggregates import (
        aggregate_temporal_period,
    )

    src = synthetic_cube(spark)
    long_df = aggregate_temporal_period(src, "season", "median").df
    for tile in (8, 5):
        tiled = t.aggregate_temporal_period_tiled(
            t.to_tiled(src, tile=tile, n_y=16, n_x=16), "season", "median"
        )
        _frames_equal(long_df, t.from_tiled(tiled).df)


def test_zonal_product_tiled_engines_match_long(spark):
    from openeo_odc_driver_spark.operators.aggregates import aggregate_spatial

    polys = [
        [(5.0, 5.0), (75.0, 5.0), (75.0, 75.0), (5.0, 75.0)],
        [(80.0, 80.0), (145.0, 80.0), (145.0, 145.0), (80.0, 145.0)],
    ]
    src = synthetic_cube(spark)
    long_df = aggregate_spatial(src, polys, "product").df
    for tile in (8, 5):
        tc = t.to_tiled(src, tile=tile, n_y=16, n_x=16)
        tiled_df = t.aggregate_spatial_tiled(tc, polys, "product").df
        _frames_equal(long_df, tiled_df)


def test_reducer_only_graph_demotion_free(spark):
    """VERDICT r10 item 3's done-criterion: a reducer-only graph (x-axis
    reduce + period median) executes tiled with an EMPTY demotion list."""
    from openeo_odc_driver_spark.plans.graph import ProcessGraph

    graph = {
        "process_graph": {
            "load": {
                "process_id": "load_collection",
                "arguments": {"id": "synthetic"},
            },
            "seasonal": {
                "process_id": "aggregate_temporal_period",
                "arguments": {
                    "data": {"from_node": "load"},
                    "period": "season",
                    "reducer": {"process_graph": {"m": {
                        "process_id": "median",
                        "arguments": {"data": {"from_parameter": "data"}},
                        "result": True,
                    }}},
                },
            },
            "profile": {
                "process_id": "reduce_dimension",
                "arguments": {
                    "data": {"from_node": "seasonal"},
                    "dimension": "x",
                    "reducer": {"process_graph": {"s": {
                        "process_id": "sum",
                        "arguments": {"data": {"from_parameter": "data"}},
                        "result": True,
                    }}},
                },
                "result": True,
            },
        }
    }
    pg = ProcessGraph(graph, save_dir="/tmp/pg_reducer_only", tiled=True)
    cube = pg.execute(spark)
    assert pg.tiled_demotions == []

    long_pg = ProcessGraph(graph, save_dir="/tmp/pg_reducer_only_long")
    _frames_equal(long_pg.execute(spark).df, cube.df)


# --- Spark 4.1 HOF lambda-pruning canary -------------------------------------


def test_spark_hof_lambda_pruning_canary():
    """Canary for the Spark 4.1 optimizer bug that forces the long
    tier's >16-zone tagging onto the pandas UDF (PLANS.md round-10):
    columns referenced ONLY inside higher-order-function lambdas are
    lost over locally generated (range+project) sources with a join
    below the lambda — [INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND] at
    BindReferences. The repro builds its own cross join of ranges: the
    synthetic cube is a single range scan, which does not trigger it.

    Round-11 refinement (re-derived repro): the bug triggers ONLY when
    the tag query is the very FIRST job of a cold JVM — any earlier job
    in the session "heals" it (state-dependent planner/codegen init),
    which is exactly why the dispatch cannot rely on the HOF spelling:
    a correctness-critical path must not depend on session warm-up
    order. The canary therefore runs the repro in a fresh subprocess
    JVM. While the bug is present this test xfails; when a Spark
    upgrade fixes it, it FAILS LOUDLY with instructions: flip
    aggregate_spatial's >16-zone dispatch (operators/aggregates.py)
    back to the JVM-side zones-literal HOF and retire
    convex_geom_id_udf — the workaround must not fossilize."""
    import os
    import subprocess
    import sys

    script = r"""
import sys
sys.path.insert(0, %(repo)r)
from openeo_odc_driver_spark.session import get_spark
from openeo_odc_driver_spark.core.tiled import _zones_literal_sql
from pyspark.sql import functions as F
spark = get_spark("canary", cpus="2")
zones = []
for i in range(5):
    for j in range(5):
        cx, cy, h = j * 30.0, i * 30.0, 14.75
        zones.append([(cx - h, cy - h), (cx + h, cy - h),
                      (cx + h, cy + h), (cx - h, cy + h)])
zlit = _zones_literal_sql(zones)
tag = ("transform(array(filter(" + zlit + ", z -> x >= z.xmin AND x <= z.xmax "
       "AND y >= z.ymin AND y <= z.ymax AND forall(z.edges, e -> "
       "e.dx * (y - e.y1) - e.dy * (x - e.x1) >= 0.0))), "
       "tz -> CASE WHEN size(tz) > 0 THEN tz[0].id END)[0]")
# a locally generated source with a join below the lambda: a cross
# join of ranges (a single range scan does not trigger the bug)
src = spark.sql(
    "SELECT CAST(b AS STRING) AS band, ti AS time, "
    "CAST(150.0 - 10.0 * yi AS DOUBLE) AS y, CAST(10.0 * xi AS DOUBLE) AS x, "
    "CAST(b + ti + yi + xi AS DOUBLE) AS value FROM range(3) tb(b), "
    "range(24) tt(ti), range(16) ty(yi), range(16) tx(xi)")
agg = (src.withColumn("gid", F.expr(tag))
       .where(F.col("gid").isNotNull())
       .groupBy("gid", "band", "time").agg(F.avg("value")))
try:
    n = agg.count()
    print("CANARY_RESULT=OK" if n == 25 * 3 * 24 else "CANARY_RESULT=WRONG:" + str(n))
except Exception as exc:
    m = str(exc)
    if "ATTRIBUTE_NOT_FOUND" in m or "Could not find" in m:
        print("CANARY_RESULT=BUG")
    else:
        print("CANARY_RESULT=OTHER:" + m[:200])
spark.stop()
""" % {"repo": os.path.dirname(os.path.dirname(os.path.abspath(__file__)))}
    proc = subprocess.run(
        [sys.executable, "-c", script],
        capture_output=True, text=True, timeout=300,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    )
    marker = [
        line for line in proc.stdout.splitlines()
        if line.startswith("CANARY_RESULT=")
    ]
    assert marker, f"no canary marker; stderr tail: {proc.stderr[-500:]}"
    result = marker[-1].removeprefix("CANARY_RESULT=")
    if result == "BUG":
        pytest.xfail(
            "Spark 4.1 HOF lambda-pruning bug still present (cold-JVM "
            "first job, INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND)"
        )
    assert result == "OK", result
    pytest.fail(
        "Spark HOF lambda-pruning bug is FIXED: flip aggregate_spatial's "
        ">16-zone dispatch (operators/aggregates.py) back to the JVM-side "
        "zones-literal HOF and retire convex_geom_id_udf."
    )


# --- zonal over the stored tiled layout --------------------------------------


def test_zonal_store_pushes_tile_range(spark):
    """The sargable zones-bbox prefilter reaches the PARQUET SCAN of a
    save_tiled store: a corner polygon's tile_row/tile_col BETWEEN shows
    up in PushedFilters, so row groups outside the zone's bbox never
    read their array bytes (VERDICT r10 item 6)."""
    import os
    import shutil
    import tempfile

    src = synthetic_cube(spark)
    work = tempfile.mkdtemp(prefix="zonal_store_")
    try:
        path = os.path.join(work, "store")
        t.save_tiled(t.to_tiled(src, tile=4, n_y=16, n_x=16), path)
        tc = t.load_tiled(spark, path)
        # NW-corner polygon: touches only tile (0..0, 0..0) of the 4×4
        # tile grid (pixels y in [140,150] / x in [0,10])
        poly = [(0.0, 140.0), (15.0, 140.0), (15.0, 150.0), (0.0, 150.0)]
        cube = t.aggregate_spatial_tiled(tc, [poly], "mean")
        phys = cube.df._jdf.queryExecution().executedPlan().toString()
        assert "PushedFilters" in phys
        pushed = [
            ln for ln in phys.splitlines() if "PushedFilters" in ln
        ][0]
        assert "tile_row" in pushed and "tile_col" in pushed, pushed
        # and the values still match the long operator
        from openeo_odc_driver_spark.operators.aggregates import (
            aggregate_spatial,
        )

        _frames_equal(aggregate_spatial(src, [poly], "mean").df, cube.df)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def test_zonal_tiled_empty_polygons_named_error(spark):
    tc = t.to_tiled(synthetic_cube(spark), tile=8, n_y=16, n_x=16)
    with pytest.raises(ValueError, match="at least one polygon"):
        t.aggregate_spatial_tiled(tc, [], "mean")


def test_build_tiled_store_recovers_from_squatter(spark):
    """An incomplete directory squatting on the store path (interrupted
    build) is cleared and rebuilt instead of wedging os.replace
    (ADVICE r10 TOCTOU item)."""
    import os
    import shutil

    from openeo_odc_driver_spark.registry import _build_tiled_store

    root = _build_tiled_store(spark, "synthetic")
    path = os.path.join(root, "synthetic")
    meta = os.path.join(path, "_tiled_meta.json")
    assert os.path.exists(meta)
    # simulate the interrupted legacy build: dir exists, no meta
    os.remove(meta)
    assert not os.path.exists(meta)
    _build_tiled_store(spark, "synthetic")
    assert os.path.exists(meta)
    # idempotent re-entry leaves no .build litter
    _build_tiled_store(spark, "synthetic")
    litter = [d for d in os.listdir(root) if ".build" in d]
    assert litter == []


# --- radar_mask on tiles (halo-strip exchange) --------------------------------


def test_radar_mask_tiled_matches_long(spark):
    from openeo_odc_driver_spark.operators.sar import radar_mask

    sar = CubeSpec(bands=("DEM", "LIA"), n_times=1, vs=0.0)
    src = synthetic_cube(spark, sar)
    for orbit in ("ASC", "DESC"):
        long_df = radar_mask(src, 0.3, 0.5, orbit).df
        for tile in (8, 5):
            tiled = t.radar_mask_tiled(
                t.to_tiled(src, tile=tile, n_y=16, n_x=16), 0.3, 0.5, orbit
            )
            assert tiled.schema.bands == (
                "layover", "foreshortening", "shadow"
            )
            _frames_equal(long_df, t.from_tiled(tiled).df)


def test_radar_mask_planner_stays_tiled(spark):
    """A radar_mask graph executes tiled without demotion."""
    from openeo_odc_driver_spark.plans.graph import ProcessGraph

    graph = {
        "process_graph": {
            "load": {
                "process_id": "load_collection",
                "arguments": {"id": "synthetic"},
            },
            "rm": {
                "process_id": "radar_mask",
                "arguments": {
                    "data": {"from_node": "load"},
                    "foreshortening_th": 0.3,
                    "layover_th": 0.5,
                },
                "result": True,
            },
        }
    }
    # the synthetic collection lacks DEM/LIA bands — swap band labels so
    # the operator finds them (schema-level rename via the catalog is
    # overkill for a dispatch pin; use the SAR fixture directly instead)
    from openeo_odc_driver_spark.plans.graph import ProcessGraph as PG

    pg = PG(graph, tiled=True, tile=8, save_dir="/tmp/pg_rm")
    # dispatch reached the tiled branch iff radar_mask is NOT demoted;
    # execution itself errors on missing bands either way, so pin the
    # dispatch on the SAR fixture through the operator call instead
    sar = CubeSpec(bands=("DEM", "LIA"), n_times=1, vs=0.0)
    tc = t.to_tiled(synthetic_cube(spark, sar), tile=8, n_y=16, n_x=16)
    out = pg._dispatch_tiled(
        "radar_mask",
        {"data": tc, "foreshortening_th": 0.3, "layover_th": 0.5},
        {},
    )
    assert isinstance(out, t.TiledCube)


# --- VP8L: hand-built vectors for the repeat/escape decoder branches ---------
# (ADVICE r10: the in-repo encoder never emits 16/17/18 repeats or the
# max_symbol escape, so these branches had no test vectors; real
# libwebp files use them constantly.)


def _full_code_stream(cl_lengths, emit):
    """Hand-assemble a VP8L 'full code' bitstream: code-length code with
    the given 19 lengths, no/with max_symbol escape, then `emit(bw, cl)`
    writes the code-length symbols."""
    from openeo_odc_driver_spark.pipeline.webp import (
        BitWriter, _Code, _CL_ORDER,
    )

    bw = BitWriter()
    bw.write_bit(0)  # full (non-simple) code
    need = max(i for i, s in enumerate(_CL_ORDER) if cl_lengths[s] > 0) + 1
    need = max(need, 4)
    bw.write(need - 4, 4)
    for i in range(need):
        bw.write(cl_lengths[_CL_ORDER[i]], 3)
    cl = _Code(list(cl_lengths))
    emit(bw, cl)
    return bw


def _decode(bw, alphabet):
    from openeo_odc_driver_spark.pipeline.webp import BitReader, _read_code

    return _read_code(BitReader(bw.tobytes()), alphabet).lengths


def test_vp8l_repeat16_copies_previous_length():
    cl_lengths = [0] * 19
    cl_lengths[2] = 1
    cl_lengths[16] = 1

    def emit(bw, cl):
        bw.write_bit(0)  # no max_symbol escape
        cl.write(bw, 2)        # symbol 0: length 2 (prev := 2)
        cl.write(bw, 16)       # repeat previous length
        bw.write(0, 2)         # 2 extra bits: repeat = 3 + 0

    assert _decode(_full_code_stream(cl_lengths, emit), 4) == [2, 2, 2, 2]


def test_vp8l_repeat17_short_zero_run():
    cl_lengths = [0] * 19
    for s in (0, 1, 2, 17):
        cl_lengths[s] = 2

    def emit(bw, cl):
        bw.write_bit(0)
        cl.write(bw, 1)        # s0: length 1
        cl.write(bw, 17)       # zero run
        bw.write(0, 3)         # 3 extra bits: repeat = 3 + 0 (s1..s3 = 0)
        cl.write(bw, 2)        # s4
        cl.write(bw, 2)        # s5
        cl.write(bw, 0)        # s6
        cl.write(bw, 0)        # s7

    assert _decode(_full_code_stream(cl_lengths, emit), 8) == [
        1, 0, 0, 0, 2, 2, 0, 0,
    ]


def test_vp8l_repeat18_long_zero_run():
    cl_lengths = [0] * 19
    for s in (1, 2, 18):
        cl_lengths[s] = 2

    def emit(bw, cl):
        bw.write_bit(0)
        cl.write(bw, 1)        # s0: length 1
        cl.write(bw, 18)       # long zero run
        bw.write(0, 7)         # 7 extra bits: repeat = 11 + 0 (s1..s11)
        cl.write(bw, 2)        # s12
        cl.write(bw, 2)        # s13

    want = [1] + [0] * 11 + [2, 2]
    assert _decode(_full_code_stream(cl_lengths, emit), 14) == want


def test_vp8l_max_symbol_escape_truncates_read():
    cl_lengths = [0] * 19
    cl_lengths[1] = 1
    cl_lengths[0] = 1

    def emit(bw, cl):
        bw.write_bit(1)        # max_symbol escape present
        bw.write(0, 3)         # length_nbits = 2 + 2*0 = 2
        bw.write(0, 2)         # max_symbol = 2 + 0 = 2
        cl.write(bw, 1)        # s0: length 1
        cl.write(bw, 1)        # s1: length 1
        # NOTHING else: the remaining 254 symbols come from the escape

    want = [1, 1] + [0] * 254
    assert _decode(_full_code_stream(cl_lengths, emit), 256) == want


# --- quantiles + array_interpolate_linear on tiles ----------------------------


def test_quantiles_tiled_matches_long(spark):
    from openeo_odc_driver_spark.operators.reducers import quantiles

    src = synthetic_cube(spark)
    for tile in (8, 5):
        tc = t.to_tiled(src, tile=tile, n_y=16, n_x=16)
        _frames_equal(
            quantiles(src, "time", probabilities=[0.25, 0.5, 0.75]).df,
            t.from_tiled(
                t.quantiles_tiled(tc, probabilities=[0.25, 0.5, 0.75])
            ).df,
        )
    _frames_equal(
        quantiles(src, "time", q=4).df,
        t.from_tiled(
            t.quantiles_tiled(
                t.to_tiled(src, tile=8, n_y=16, n_x=16), q=4
            )
        ).df,
    )
    with pytest.raises(ValueError, match="exactly one"):
        t.quantiles_tiled(
            t.to_tiled(src, tile=8, n_y=16, n_x=16),
            probabilities=[0.5], q=4,
        )


def test_array_interpolate_linear_tiled_matches_long(spark):
    from openeo_odc_driver_spark.operators.dimops import (
        array_interpolate_linear,
    )

    src = synthetic_cube(spark)
    long_df = array_interpolate_linear(src, "time").df
    for tile in (8, 5):
        tiled = t.array_interpolate_linear_tiled(
            t.to_tiled(src, tile=tile, n_y=16, n_x=16)
        )
        _frames_equal(long_df, t.from_tiled(tiled).df)


def test_apply_dimension_quantiles_graph_stays_tiled(spark):
    """apply_dimension(quantiles, time) executes tiled demotion-free."""
    from openeo_odc_driver_spark.plans.graph import ProcessGraph

    graph = {
        "process_graph": {
            "load": {
                "process_id": "load_collection",
                "arguments": {"id": "synthetic"},
            },
            "gaps": {
                "process_id": "array_interpolate_linear",
                "arguments": {"data": {"from_node": "load"}},
            },
            "qs": {
                "process_id": "apply_dimension",
                "arguments": {
                    "data": {"from_node": "gaps"},
                    "dimension": "time",
                    "process": {"process_graph": {"n": {
                        "process_id": "quantiles",
                        "arguments": {
                            "data": {"from_parameter": "data"},
                            "probabilities": [0.5],
                        },
                        "result": True,
                    }}},
                },
                "result": True,
            },
        }
    }
    pg = ProcessGraph(graph, tiled=True, tile=8, save_dir="/tmp/pg_adq")
    cube = pg.execute(spark)
    assert pg.tiled_demotions == []
    long_pg = ProcessGraph(graph, save_dir="/tmp/pg_adq_long")
    _frames_equal(long_pg.execute(spark).df, cube.df)


def test_reduce_spatial_multiset_tiled_matches_long(spark):
    """x/y median and product ride the compact line-multiset path —
    aligned and partial tiles, exact against the long reducers."""
    from openeo_odc_driver_spark.operators.reducers import reduce_dimension

    src = synthetic_cube(spark)
    for dim in ("x", "y"):
        for red in ("median", "product"):
            long_df = reduce_dimension(src, dim, red).df
            for tile in (8, 5):
                tc = t.to_tiled(src, tile=tile, n_y=16, n_x=16)
                tiled = t.reduce_spatial_tiled(tc, dim, red)
                _frames_equal(long_df, tiled.df)


def test_bilinear_tiled_matches_long(spark):
    """Bilinear regrid on tiles — gate fixture plus a TRUE edge
    renormalization (shifted target origin puts cells past the source
    extent with nonzero out-of-scene neighbor weight: the long join
    drops those rows and renormalizes over the rest)."""
    src = synthetic_cube(spark)
    for spec, ts, tt in (
        (CubeSpec(resx=15.0, resy=15.0, nx=10, ny=10), 8, 4),
        (CubeSpec(resx=15.0, resy=15.0, nx=11, ny=11, x0=7.5, y0=142.5),
         5, 4),
        # windows straddling two source tiles per axis, a 1-px last
        # target tile
        (CubeSpec(resx=15.0, resy=15.0, nx=10, ny=10), 4, 3),
    ):
        tgt = synthetic_cube(spark, spec)
        long_df = resample_cube_spatial(src, tgt, method="bilinear").df
        tiled = t.resample_cube_spatial_bilinear_tiled(
            t.to_tiled(src, tile=ts, n_y=16, n_x=16),
            t.to_tiled(tgt, tile=tt, n_y=spec.ny, n_x=spec.nx),
        )
        _frames_equal(long_df, t.from_tiled(tiled).df)


def test_bilinear_graph_stays_tiled(spark):
    """The alignment graph with method=bilinear now runs tile-native —
    round-11's earlier demotion pin inverted by the new operator."""
    import json

    from openeo_odc_driver_spark.plans.graph import ProcessGraph

    graph = json.load(open("tests/process_graphs/resample_align.json"))
    graph["process_graph"]["snap"]["arguments"]["method"] = "bilinear"
    del graph["process_graph"]["align"]
    graph["process_graph"]["snap"]["result"] = True
    pg = ProcessGraph(graph, save_dir="/tmp/pg_align_bil2", tiled=True)
    cube = pg.execute(spark)
    assert pg.tiled_demotions == []
    long_pg = ProcessGraph(graph, save_dir="/tmp/pg_align_bil2_long")
    _frames_equal(long_pg.execute(spark).df, cube.df)


# --- native (stay-tiled) filter_bbox ------------------------------------------


def test_filter_bbox_tiled_native_matches_long(spark):
    from openeo_odc_driver_spark.operators.filters import filter_bbox

    src = synthetic_cube(spark)
    for tile in (8, 5):
        tc = t.to_tiled(src, tile=tile, n_y=16, n_x=16)
        for box in (
            (20.0, 90.0, 30.0, 120.0),
            (0.0, 150.0, 0.0, 150.0),   # whole scene
            (95.0, 205.0, -10.0, 45.0),  # clipped at two scene edges
        ):
            nat = t.filter_bbox_tiled_native(tc, *box)
            _frames_equal(filter_bbox(src, *box).df, t.from_tiled(nat).df)
    # empty window → empty cube, no error
    empty = t.filter_bbox_tiled_native(
        t.to_tiled(src, tile=8, n_y=16, n_x=16), 200.0, 300.0, 30.0, 40.0
    )
    assert empty.df.count() == 0 and (empty.n_y, empty.n_x) == (0, 0)


def test_filter_bbox_native_keeps_downstream_tiled(spark):
    """A bbox → time-mean graph stays tile-native end to end: the
    windowed cube's re-anchored grid feeds reduce_time_tiled directly
    (this was the VERDICT-documented expansion point)."""
    from openeo_odc_driver_spark.plans.graph import ProcessGraph

    graph = {
        "process_graph": {
            "load": {
                "process_id": "load_collection",
                "arguments": {"id": "synthetic"},
            },
            "box": {
                "process_id": "filter_bbox",
                "arguments": {
                    "data": {"from_node": "load"},
                    "extent": {"west": 20.0, "east": 90.0,
                               "south": 30.0, "north": 120.0},
                },
            },
            "mean": {
                "process_id": "reduce_dimension",
                "arguments": {
                    "data": {"from_node": "box"},
                    "dimension": "time",
                    "reducer": {"process_graph": {"m": {
                        "process_id": "mean",
                        "arguments": {"data": {"from_parameter": "data"}},
                        "result": True,
                    }}},
                },
                "result": True,
            },
        }
    }
    pg = ProcessGraph(graph, tiled=True, tile=8, save_dir="/tmp/pg_fbn")
    cube = pg.execute(spark)
    assert pg.tiled_demotions == []
    long_pg = ProcessGraph(graph, save_dir="/tmp/pg_fbn_long")
    _frames_equal(long_pg.execute(spark).df, cube.df)


# --- kernel border modes on tiles ----------------------------------------------


def test_apply_kernel_tiled_border_modes_match_long(spark):
    from openeo_odc_driver_spark.operators.kernel import apply_kernel

    K = [[0.0, 0.25, 0.0], [0.25, -1.0, 0.25], [0.0, 0.25, 0.0]]
    src = synthetic_cube(spark)
    for mode in ("replicate", "reflect", "reflect_pixel"):
        long_df = apply_kernel(src, K, factor=2.0, border=mode).df
        for tile in (8, 5):
            tiled = t.apply_kernel_tiled_layout(
                t.to_tiled(src, tile=tile, n_y=16, n_x=16),
                K, factor=2.0, border=mode,
            )
            _frames_equal(long_df, t.from_tiled(tiled).df)
    # wrap became tile-native later in round 11 (exact tilings) —
    # see test_apply_kernel_tiled_wrap_matches_long; unknown names raise
    with pytest.raises(NotImplementedError, match="unknown border"):
        t.apply_kernel_tiled_layout(
            t.to_tiled(src, tile=8, n_y=16, n_x=16), K, border="nope"
        )


def test_quantiles_spatial_tiled_matches_long(spark):
    from openeo_odc_driver_spark.operators.reducers import quantiles

    src = synthetic_cube(spark)
    for dim in ("x", "y"):
        long_df = quantiles(src, dim, probabilities=[0.25, 0.5, 0.75]).df
        for tile in (8, 5):
            tc = t.to_tiled(src, tile=tile, n_y=16, n_x=16)
            tiled = t.quantiles_spatial_tiled(
                tc, dim, probabilities=[0.25, 0.5, 0.75],
            )
            _frames_equal(long_df, tiled.df)
    _frames_equal(
        quantiles(src, "y", q=4).df,
        t.quantiles_spatial_tiled(
            t.to_tiled(src, tile=8, n_y=16, n_x=16), "y", q=4
        ).df,
    )


def test_apply_kernel_tiled_wrap_matches_long(spark):
    """Periodic border — exact tilings (including the single-tile
    scene, where strips wrap onto their own tile) and, since round 13,
    partial tilings too."""
    from openeo_odc_driver_spark.operators.kernel import apply_kernel

    K = [[0.0, 0.25, 0.0], [0.25, -1.0, 0.25], [0.0, 0.25, 0.0]]
    src = synthetic_cube(spark)
    long_df = apply_kernel(src, K, factor=2.0, border="wrap").df
    # round 13 flipped the tile=5 pin: PARTIAL tilings are native now
    # (crossing strips slice the last valid rows — test_round13 covers
    # the geometry; the residual demotion is radius > valid span)
    for tile in (8, 4, 16, 5):
        tiled = t.apply_kernel_tiled_layout(
            t.to_tiled(src, tile=tile, n_y=16, n_x=16),
            K, factor=2.0, border="wrap",
        )
        _frames_equal(long_df, t.from_tiled(tiled).df)


def test_merge_cubes_tiled_auto_retiles_mismatched_edges(spark):
    """Two stores written with different tile edges merge directly: the
    second side adapts through the fragment repack (one exchange of
    cube2 only) — previously a named error."""
    from openeo_odc_driver_spark.operators.merge import merge_cubes
    from openeo_odc_driver_spark.sources.synthetic import SPEC_C

    c1, c2 = synthetic_cube(spark), synthetic_cube(spark, SPEC_C)
    tc1 = t.to_tiled(c1, tile=8, n_y=16, n_x=16)
    tc2 = t.to_tiled(c2, tile=5, n_y=16, n_x=16)

    def resolver(a, b):
        from pyspark.sql import functions as F

        return F.when(a.isNull(), b).when(b.isNull(), a).otherwise(
            (a + b) / F.lit(2.0)
        )

    merged = t.merge_cubes_tiled(tc1, tc2, overlap_resolver=resolver)
    assert merged.tile == 8
    long_df = merge_cubes(c1, c2, overlap_resolver=resolver).df
    _frames_equal(long_df, t.from_tiled(merged).df)
