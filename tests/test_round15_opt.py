"""Round-15 optimization internals: the pandas-stage parallelism floor
(`core/tiled._py_stage_width` / `_widen_py`) that keeps applyInPandas
tile stages from AQE-coalescing to one task, and its invariants:
cluster- and data-adaptive width, raster byte sizing taking precedence
at scale, and unchanged operator results under the repartition."""

import numpy as np
import pytest

from openeo_odc_driver_spark.core import tiled
from openeo_odc_driver_spark.core.tiled import (
    _py_stage_width,
    _tile_group_count,
    apply_kernel_tiled_layout,
    from_tiled,
    to_tiled,
)
from openeo_odc_driver_spark.sources.synthetic import synthetic_cube

K = np.array([[0.0, 1.0, 0.0], [1.0, 4.0, 1.0], [0.0, 1.0, 0.0]])


@pytest.fixture(scope="module")
def t8(spark):
    return to_tiled(synthetic_cube(spark), tile=8, n_y=16, n_x=16)


def test_tile_group_count_matches_layout(t8):
    # 2x2 tiles x 3 bands x 24 time steps
    assert _tile_group_count(t8) == 4 * 3 * 24
    n = t8.df.select("band", "time", "tile_row", "tile_col").distinct().count()
    assert n == _tile_group_count(t8)


def test_py_stage_width_is_parallelism_floor(t8, spark):
    dp = spark.sparkContext.defaultParallelism
    # small scene: raster byte sizing abstains, floor = min(dp, groups)
    assert tiled._raster_exchange_width(t8) is None
    assert _py_stage_width(t8) == min(dp, 4 * 3 * 24)


def test_py_stage_width_defers_to_raster_sizing(t8, monkeypatch):
    # at scale the byte sizing must win over the parallelism floor
    monkeypatch.setattr(tiled, "_raster_exchange_width", lambda tc: 512)
    assert _py_stage_width(t8) == 512


def test_kernel_results_invariant_under_stage_width(spark, t8, monkeypatch):
    def run():
        return sorted(
            map(tuple, from_tiled(
                apply_kernel_tiled_layout(t8, K, factor=1.0 / 8.0)
            ).df.collect())
        )

    with_floor = run()
    monkeypatch.setattr(tiled, "_py_stage_width", lambda tc: None)
    without = run()
    assert with_floor == without


# --- continuation session: floor restricted to pandas stages, numpy
# fold order pinned, bigram one-pass model build ---------------------


def test_numpy_fold_permutation_invariant(spark):
    """The numpy reduce fold sorts its group stack by the collapsed
    axis before summing — the result must be bit-identical however the
    input rows are partitioned/ordered (non-dyadic values on purpose:
    unsorted pairwise nansum WOULD differ in the last ulp)."""
    from openeo_odc_driver_spark.core.tiled import _fold_groups

    from dataclasses import replace

    tc = to_tiled(synthetic_cube(spark), tile=8, n_y=16, n_x=16)
    # non-dyadic data: value/3 keeps NULLs and forces inexact doubles
    nd = replace(tc, df=tc.df.selectExpr(
        "band", "time", "tile_row", "tile_col",
        "transform(data, v -> v / 3.0D) AS data",
    ))
    keys = ["band", "tile_row", "tile_col"]

    def run(df_variant):
        out = _fold_groups(
            replace(nd, df=df_variant), "sum", keys=keys, sort_field="time",
        )
        return sorted(map(tuple, out.collect()))

    a = run(nd.df.repartition(7, "time"))
    b = run(nd.df.repartition(3, "tile_row").sortWithinPartitions(
        "tile_col"))
    assert a == b


def test_canvas_assembly_floor_in_plan(spark):
    """The resample_cube_spatial fragment-canvas assembly pre-clusters
    at the pandas-stage width: a REPARTITION_BY_NUM hash partitioning
    on the target-tile group keys replaces the groupBy exchange."""
    from openeo_odc_driver_spark.core.cube import (
        Cube,
        CubeSchema,
        GridSpec,
    )
    from openeo_odc_driver_spark.core.tiled import (
        resample_cube_spatial_tiled,
    )
    from openeo_odc_driver_spark.sources.synthetic import DEFAULT_SPEC

    long_src = synthetic_cube(spark)
    src = to_tiled(long_src, tile=8, n_y=16, n_x=16)
    target = Cube(
        long_src.df,
        CubeSchema(
            bands=DEFAULT_SPEC.bands, crs="EPSG:32632",
            grid=GridSpec(x0=0.0, y0=150.0, resx=20.0, resy=20.0),
        ),
    )
    out = resample_cube_spatial_tiled(src, target)
    plan = out.df._sc._jvm.PythonSQLUtils.explainString(
        out.df._jdf.queryExecution(), "formatted"
    )
    assert "REPARTITION_BY_NUM" in plan
