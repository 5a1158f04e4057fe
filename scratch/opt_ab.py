"""Round-15 optimization A/B harness: interleaved same-session legs
(the only wall comparison this box supports — see verify skill), old vs
new implementation of each optimized path, System.gc between runs,
best-of-N, noop sink. Also asserts once per pair that both legs return
IDENTICAL rows (sorted collect), so the perf claim and the
no-result-change claim ride the same script.

Usage: python scratch/opt_ab.py <pair> [rounds]
Pairs are registered in PAIRS below.
"""

from __future__ import annotations

import json
import sys
import time

sys.path.insert(0, "/root/repo")

SF_DIR = "/root/testdata/sf0.1"


def _reduce_sweep(variant: str):
    def build(spark):
        from openeo_odc_driver_spark.operators.reducers import (
            reduce_dimension,
        )
        from openeo_odc_driver_spark.registry import REDUCER_DUCK, VALUE
        from openeo_odc_driver_spark.sources.synthetic import synthetic_cube
        from pyspark.sql import functions as F

        cube = synthetic_cube(spark)
        if variant == "repart":
            # pre-cluster ONCE on the group keys: every reducer leg's
            # groupBy and every join is then exchange-free, and the one
            # repartition subtree is pure SQL so ReuseExchange fires
            cube = cube.with_df(cube.df.repartition("band", "y", "x"))
        elif variant == "checkpoint":
            cube = cube.with_df(cube.df.localCheckpoint(eager=True))
        out = None
        for red in REDUCER_DUCK:
            d = reduce_dimension(cube, "time", red).df
            d = d.withColumnRenamed(VALUE, red)
            out = d if out is None else out.join(d, ["band", "y", "x"])
        return out

    return build


def _kernel_sweep(py_floor: bool):
    def build(spark):
        from openeo_odc_driver_spark.core import tiled
        from openeo_odc_driver_spark.registry import QUERIES

        orig = tiled._py_stage_width
        if not py_floor:
            # old behavior: pandas stages use only the raster byte
            # sizing (None at this scale -> AQE coalesces the stage)
            tiled._py_stage_width = tiled._raster_exchange_width
        try:
            return QUERIES["tiled_apply_kernel_border_sweep"](spark, SF_DIR)
        finally:
            tiled._py_stage_width = orig

    return build


def _kernel_single(py_floor: bool):
    def build(spark):
        from openeo_odc_driver_spark.core import tiled
        from openeo_odc_driver_spark.registry import QUERIES

        orig = tiled._py_stage_width
        if not py_floor:
            tiled._py_stage_width = tiled._raster_exchange_width
        try:
            return QUERIES["tiled_apply_kernel"](spark, SF_DIR)
        finally:
            tiled._py_stage_width = orig

    return build


def _radar_tiled(py_floor: bool):
    def build(spark):
        from openeo_odc_driver_spark.core import tiled
        from openeo_odc_driver_spark.registry import QUERIES

        orig = tiled._py_stage_width
        if not py_floor:
            tiled._py_stage_width = tiled._raster_exchange_width
        try:
            return QUERIES["tiled_radar_mask"](spark, SF_DIR)
        finally:
            tiled._py_stage_width = orig

    return build


def _py_floor_q(qname, py_floor: bool):
    """Round-15 CONTINUATION legs: the pandas-stage floor extended to
    the pack / folds / median / canvas assemblies (old = raster byte
    sizing only, i.e. no repartition at this scale)."""
    def build(spark):
        from openeo_odc_driver_spark.core import tiled
        from openeo_odc_driver_spark.registry import QUERIES

        orig = tiled._py_stage_width
        if not py_floor:
            tiled._py_stage_width = tiled._raster_exchange_width
        try:
            return QUERIES[qname](spark, SF_DIR)
        finally:
            tiled._py_stage_width = orig

    return build


def _sweep_share(qname, enabled):
    def build(spark):
        from pyspark.sql import DataFrame

        from openeo_odc_driver_spark.core import tiled
        from openeo_odc_driver_spark.registry import QUERIES

        if enabled:
            return QUERIES[qname](spark, SF_DIR)
        # old leg: disable every fixture materialization (identity
        # checkpoint) so the sweep re-embeds its subtrees per leg
        orig_lc = DataFrame.localCheckpoint
        orig_mt = tiled.materialize_tiled
        DataFrame.localCheckpoint = lambda self, eager=True: self
        tiled.materialize_tiled = lambda tc: tc
        try:
            return QUERIES[qname](spark, SF_DIR)
        finally:
            DataFrame.localCheckpoint = orig_lc
            tiled.materialize_tiled = orig_mt

    return build


PAIRS = {
    "zonal_sweep_share": (
        _sweep_share("tiled_zonal_sweep", False),
        _sweep_share("tiled_zonal_sweep", True),
    ),
    "warp_sweep_share": (
        _sweep_share("resample_spatial_warp_sweep", False),
        _sweep_share("resample_spatial_warp_sweep", True),
    ),
    "warp_dirs_share": (
        _sweep_share("resample_spatial_warp_directions_sweep", False),
        _sweep_share("resample_spatial_warp_directions_sweep", True),
    ),
    "kernel_sweep_share": (
        _sweep_share("tiled_apply_kernel_border_sweep", False),
        _sweep_share("tiled_apply_kernel_border_sweep", True),
    ),
    "treduce_share": (
        _sweep_share("tiled_reduce_time_sweep", False),
        _sweep_share("tiled_reduce_time_sweep", True),
    ),
    "kernel_sweep": (_kernel_sweep(False), _kernel_sweep(True)),
    "kernel_single": (_kernel_single(False), _kernel_single(True)),
    "reduce_sweep_repart": (_reduce_sweep("plain"), _reduce_sweep("repart")),
    "reduce_sweep_ckpt": (_reduce_sweep("plain"), _reduce_sweep("checkpoint")),
    "radar_tiled": (_radar_tiled(False), _radar_tiled(True)),
    # --- round-15 continuation pairs ---
    "floor_rcs": (_py_floor_q("tiled_resample_cube_spatial", False),
                  _py_floor_q("tiled_resample_cube_spatial", True)),
    "floor_rcs_bilinear": (
        _py_floor_q("tiled_resample_cube_spatial_bilinear", False),
        _py_floor_q("tiled_resample_cube_spatial_bilinear", True)),
    "floor_treduce": (_py_floor_q("tiled_reduce_time_sweep", False),
                      _py_floor_q("tiled_reduce_time_sweep", True)),
    "floor_ndvi": (_py_floor_q("tiled_ndvi_median", False),
                   _py_floor_q("tiled_ndvi_median", True)),
    "floor_roundtrip": (_py_floor_q("tiled_roundtrip", False),
                        _py_floor_q("tiled_roundtrip", True)),
    "floor_zonal": (_py_floor_q("tiled_zonal_sweep", False),
                    _py_floor_q("tiled_zonal_sweep", True)),
    "floor_climnorm": (_py_floor_q("tiled_climatological_normal", False),
                       _py_floor_q("tiled_climatological_normal", True)),
    "floor_pipeline_e2e": (_py_floor_q("tiled_pipeline_e2e", False),
                           _py_floor_q("tiled_pipeline_e2e", True)),
}


def main() -> int:
    pair = sys.argv[1]
    rounds = int(sys.argv[2]) if len(sys.argv) > 2 else 4
    old_fn, new_fn = PAIRS[pair]
    from openeo_odc_driver_spark.session import get_spark

    spark = get_spark("opt-ab", cpus="32")

    def run(fn) -> float:
        spark._jvm.System.gc()
        t0 = time.time()
        fn(spark).write.format("noop").mode("overwrite").save()
        return round(time.time() - t0, 3)

    # result parity once, before timing
    o = sorted(map(tuple, old_fn(spark).collect()))
    n = sorted(map(tuple, new_fn(spark).collect()))
    assert o == n, f"RESULT MISMATCH old={o[:5]} new={n[:5]}"

    walls = {"old": [], "new": []}
    for _ in range(rounds):
        walls["old"].append(run(old_fn))
        walls["new"].append(run(new_fn))
    out = {
        "pair": pair,
        "rows": len(o),
        "old_walls": walls["old"],
        "new_walls": walls["new"],
        "old_best": min(walls["old"]),
        "new_best": min(walls["new"]),
        "ratio_old_over_new": round(
            min(walls["old"]) / max(min(walls["new"]), 1e-9), 2
        ),
        "parity": "identical",
    }
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
