"""Long-tier plan cost: the synthetic source is one range scan, a band
pivot or near snap is the only shuffle before a pixel-keyed reduction,
and a nearest-time relabel between known axes runs no job — with the
rows unchanged."""

from datetime import datetime, timedelta

import duckdb
import numpy as np
import pandas as pd
import pytest

from openeo_odc_driver_spark.core.cube import Cube, CubeSchema, GridSpec
from openeo_odc_driver_spark.operators.filters import filter_bbox
from openeo_odc_driver_spark.operators.resample import (
    resample_cube_spatial,
    resample_cube_temporal,
)
from openeo_odc_driver_spark.plans.catalog import COLLECTION_SPECS
from openeo_odc_driver_spark.plans.graph import ProcessGraph
from openeo_odc_driver_spark.sources.synthetic import (
    MASK_SPEC,
    SPEC_B_TIMES,
    cube_sql,
    synthetic_cube,
)

KEYS = ["band", "time", "y", "x"]


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _bits(s: pd.Series) -> np.ndarray:
    """float64 bit patterns, NULL/NaN as one sentinel (exact compare)."""
    v = s.astype("float64")
    return np.where(v.isna(), -1, v.fillna(0.0).to_numpy().view("int64"))


SPECS = {**COLLECTION_SPECS, "MASK_SPEC": MASK_SPEC,
         "SPEC_B_TIMES": SPEC_B_TIMES}


@pytest.mark.parametrize("name", sorted(SPECS))
def test_synthetic_cube_equals_duckdb_bit_for_bit(spark, name):
    """The Spark source (one range scan) and the DuckDB cross join give
    the same rows, bit for bit: DAY and MONTH steps, day_offset, vm=2."""
    spec = SPECS[name]
    a = synthetic_cube(spark, spec).df.toPandas()
    b = duckdb.sql(cube_sql(spec)).df()
    assert len(a) == len(b) == len(spec.bands) * spec.n_times * spec.ny * spec.nx
    a = a.sort_values(KEYS).reset_index(drop=True)
    b = b.sort_values(KEYS).reset_index(drop=True)
    assert (a["band"] == b["band"]).all()
    assert (a["time"].astype("datetime64[us]")
            == b["time"].astype("datetime64[us]")).all()
    for c in ("y", "x", "value"):
        assert (_bits(a[c]) == _bits(b[c])).all(), c


def test_synthetic_scan_has_no_join(spark):
    plan = _plan(synthetic_cube(spark).df)
    assert "Join" not in plan and "Exchange" not in plan


def _ndvi_graph(tail: dict) -> dict:
    g = {
        "load": {"process_id": "load_collection",
                 "arguments": {"id": "synthetic", "bands": ["B04", "B08"]}},
        "ndvi": {"process_id": "reduce_dimension", "arguments": {
            "data": {"from_node": "load"}, "dimension": "bands",
            "reducer": {"process_graph": {
                "r": {"process_id": "array_element", "arguments": {
                    "data": {"from_parameter": "data"}, "label": "B04"}},
                "n": {"process_id": "array_element", "arguments": {
                    "data": {"from_parameter": "data"}, "label": "B08"}},
                "d": {"process_id": "subtract", "arguments": {
                    "x": {"from_node": "n"}, "y": {"from_node": "r"}},
                    "result": True}}}}},
    }
    g.update(tail)
    return {"process_graph": g}


def _median_over_time(src: str) -> dict:
    return {"med": {"process_id": "reduce_dimension", "result": True,
                    "arguments": {"data": {"from_node": src},
                                  "dimension": "t",
                                  "reducer": {"process_graph": {"m": {
                                      "process_id": "median",
                                      "arguments": {"data": {
                                          "from_parameter": "data"}},
                                      "result": True}}}}}}


def test_band_pivot_and_time_reduction_share_one_exchange(spark):
    """The pivot clusters on (y, x): the time median reuses its shuffle."""
    out = ProcessGraph(_ndvi_graph(_median_over_time("ndvi"))).execute(spark)
    plan = _plan(out.df)
    assert plan.count("Exchange") == 1, plan
    assert "Exchange hashpartitioning(y#" in plan


def test_near_snap_and_time_reduction_share_one_exchange(spark):
    g = {"load": {"process_id": "load_collection",
                  "arguments": {"id": "synthetic"}},
         "coarse": {"process_id": "resample_spatial",
                    "arguments": {"data": {"from_node": "load"},
                                  "resolution": 30.0, "method": "near"}},
         **_median_over_time("coarse")}
    out = ProcessGraph({"process_graph": g}).execute(spark)
    plan = _plan(out.df)
    assert plan.count("Exchange") == 1 and "Window" not in plan, plan


def _near_reference(src: pd.DataFrame, grid: GridSpec) -> pd.DataFrame:
    """Nearest snap by the (d, x, y) rule: per band, time and target
    cell, the source pixel with the least squared distance d to the
    cell centre, ties by the smaller x, then the smaller y."""
    x, y = src["x"].to_numpy(), src["y"].to_numpy()
    tx = grid.x0 + grid.resx * np.floor((x - grid.x0) / grid.resx + 0.5)
    ty = grid.y0 - grid.resy * np.floor((grid.y0 - y) / grid.resy + 0.5)
    df = src.assign(tx=tx, ty=ty, d=(x - tx) * (x - tx) + (y - ty) * (y - ty))
    win = (df.sort_values(["band", "time", "tx", "ty", "d", "x", "y"])
           .drop_duplicates(["band", "time", "tx", "ty"]))
    return (win.drop(columns=["x", "y", "d"])
            .rename(columns={"tx": "x", "ty": "y"})[KEYS + ["value"]])


@pytest.mark.parametrize("grid", [
    GridSpec(5.0, 145.0, 20.0, 20.0),   # offset origin: 4-way ties
    GridSpec(15.0, 135.0, 30.0, 30.0),  # odd factor, offset: 2-way ties
    GridSpec(0.0, 150.0, 30.0, 30.0),   # odd factor, centred cells
])
def test_near_resample_ties_on_a_bbox_cut_cube(spark, grid):
    """Equidistant candidates on a cube whose west, east and north edges
    are cut: the winner follows the (d, x, y) rule exactly."""
    cut = filter_bbox(synthetic_cube(spark), 15.0, 145.0, 0.0, 135.0)
    target = Cube(cut.df, CubeSchema(grid=grid))
    got = resample_cube_spatial(cut, target).df.toPandas()
    want = _near_reference(cut.df.toPandas(), grid)
    assert len(got) == len(want) > 0
    got = got[KEYS + ["value"]].sort_values(KEYS).reset_index(drop=True)
    want = want.sort_values(KEYS).reset_index(drop=True)
    for c in ("y", "x", "value"):
        assert (_bits(got[c]) == _bits(want[c])).all(), c
    assert (got["band"] == want["band"]).all()
    assert (got["time"] == want["time"]).all()


def _axis_cube(spark, days) -> Cube:
    t0 = datetime(2021, 1, 1)
    times = tuple(t0 + timedelta(days=d) for d in days)
    rows = [("B04", t, 0.0, float(i), float(i)) for i, t in enumerate(times)]
    df = spark.createDataFrame(
        rows, "band string, time timestamp, y double, x double, value double")
    return Cube(df, CubeSchema(bands=("B04",)).with_time_axis(times))


def _known_and_blind(src: Cube, tgt: Cube):
    """The relabel from the known axes, and its rows next to those of
    the distinct + cross join + rank plan run without the axes."""
    known = resample_cube_temporal(src, tgt)
    blind = resample_cube_temporal(
        Cube(src.df, src.schema.with_time_axis(None)),
        Cube(tgt.df, tgt.schema.with_time_axis(None)))
    a = known.df.toPandas().sort_values(KEYS).reset_index(drop=True)
    b = blind.df.toPandas().sort_values(KEYS).reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b, check_exact=True)
    return known, a


def test_temporal_relabel_from_known_axes_runs_no_join(spark):
    """Known axes: one source slice may feed several targets and an
    equidistant target takes the earlier source, with no join."""
    tgt = _axis_cube(spark, [-3, 1, 3, 5, 6, 7, 30])
    known, a = _known_and_blind(_axis_cube(spark, [0, 2, 4, 10]), tgt)
    plan = _plan(known.df)
    assert "Join" not in plan and "Exchange" not in plan, plan
    # (source value, target day); source value i sits on day [0, 2, 4,
    # 10][i]. Days 1, 3 and 7 are equidistant from two sources.
    got = sorted((int(v), (t - pd.Timestamp("2021-01-01")).days)
                 for v, t in zip(a["value"], a["time"]))
    assert got == [(0, -3), (0, 1), (1, 3), (2, 5), (2, 6), (2, 7),
                   (3, 30)]
    assert known.schema.time_axis == tgt.schema.time_axis


def test_temporal_relabel_catalog_cubes_equals_blind_plan(spark):
    """The resample_align shape: catalog cubes with day-shifted axes."""
    _, rows = _known_and_blind(
        synthetic_cube(spark),
        synthetic_cube(spark, COLLECTION_SPECS["synthetic_coarse"]))
    assert len(rows) == 3 * 24 * 16 * 16
