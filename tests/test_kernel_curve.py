"""apply_kernel physical-strategy parity + curve fitting recovery."""

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from openeo_odc_driver_spark.operators.curve import (
    fit_curve,
    fit_curve_linear,
    harmonic_model,
    linear_model,
    predict_curve,
)
from openeo_odc_driver_spark.core.tiled import (
    apply_kernel_tiled_layout,
    from_tiled,
    to_tiled,
)
from openeo_odc_driver_spark.operators.kernel import apply_kernel
from openeo_odc_driver_spark.sources.synthetic import CubeSpec, synthetic_cube

SMALL = CubeSpec(n_times=2, ny=8, nx=8)
ASYM = [[0.0, 1.0, 0.0], [0.0, 0.0, 2.0], [0.0, 0.0, 0.0]]


def _tiled_kernel(c, kernel, border=0):
    """apply_kernel through the tile tier's halo-strip stencil at tile 4."""
    return from_tiled(
        apply_kernel_tiled_layout(to_tiled(c, tile=4), kernel, border=border)
    )


def test_kernel_paths_agree_on_asymmetric_kernel(spark):
    """Join-path and halo-tile path must both compute true convolution
    (ADVICE r1: the tiled path was cross-correlating)."""
    c = synthetic_cube(spark, SMALL)
    a = apply_kernel(c, ASYM).df.withColumnRenamed("value", "va")
    b = _tiled_kernel(c, ASYM).df.withColumnRenamed("value", "vb")
    j = a.join(b, ["band", "time", "y", "x"], "full_outer")
    bad = j.where(
        ~(
            (F.col("va").isNull() & F.col("vb").isNull())
            | (F.abs(F.col("va") - F.col("vb")) < 1e-12)
        )
    ).count()
    assert bad == 0


def test_kernel_identity(spark):
    c = synthetic_cube(spark, SMALL)
    out = apply_kernel(c, [[0.0, 0.0, 0.0], [0.0, 1.0, 0.0], [0.0, 0.0, 0.0]])
    j = (
        c.df.withColumnRenamed("value", "orig")
        .join(out.df, ["band", "time", "y", "x"])
        .where(
            ~(
                (F.col("orig").isNull() & F.col("value").isNull())
                | (F.col("orig") == F.col("value"))
            )
        )
    )
    assert j.count() == 0


def test_fit_linear_recovers_trend(spark):
    """Fit on a synthetic cube whose value is an exact linear ramp."""
    import pandas as pd

    times = pd.date_range("2021-01-01", periods=10, freq="7D")
    pdf = pd.DataFrame(
        {
            "band": ["B"] * 10,
            "time": times,
            "y": [0.0] * 10,
            "x": [0.0] * 10,
            "value": [2.0 + 0.5 * (7 * i) for i in range(10)],  # a0=2, a1=0.5/day
        }
    )
    from openeo_odc_driver_spark.core.cube import Cube

    cube = Cube(spark.createDataFrame(pdf))
    params = fit_curve_linear(cube).df.collect()[0].params
    assert params[0] == pytest.approx(2.0, abs=1e-9)
    assert params[1] == pytest.approx(0.5, abs=1e-12)


def test_fit_harmonic_recovers_coefficients(spark):
    """Generic grouped-map fit on a clean harmonic signal."""
    import pandas as pd

    times = pd.date_range("2021-01-01", periods=36, freq="30D")
    w = 2 * math.pi / 365.25
    t_days = [(t - times[0]).days for t in times]
    pdf = pd.DataFrame(
        {
            "band": ["B"] * 36,
            "time": times,
            "y": [0.0] * 36,
            "x": [0.0] * 36,
            "value": [1.0 + 0.5 * math.cos(w * t) + 0.25 * math.sin(w * t) for t in t_days],
        }
    )
    from openeo_odc_driver_spark.core.cube import Cube

    cube = Cube(spark.createDataFrame(pdf))
    params = fit_curve(cube, harmonic_model()).df.collect()[0].params
    assert params[0] == pytest.approx(1.0, abs=1e-6)
    assert params[1] == pytest.approx(0.5, abs=1e-6)
    assert params[2] == pytest.approx(0.25, abs=1e-6)


def test_predict_roundtrip(spark):
    """predict(fit(cube)) reproduces a noiseless linear cube exactly."""
    import pandas as pd

    times = pd.date_range("2021-01-01", periods=6, freq="10D")
    pdf = pd.DataFrame(
        {
            "band": ["B"] * 6,
            "time": times,
            "y": [0.0] * 6,
            "x": [0.0] * 6,
            "value": [1.0 + 2.0 * (10 * i) for i in range(6)],
        }
    )
    from openeo_odc_driver_spark.core.cube import Cube

    cube = Cube(spark.createDataFrame(pdf))
    pred = predict_curve(fit_curve_linear(cube), linear_model(), cube)
    j = (
        cube.df.withColumnRenamed("value", "orig")
        .join(pred.df, ["band", "time", "y", "x"])
        .where(F.abs(F.col("orig") - F.col("value")) > 1e-9)
    )
    assert j.count() == 0


def test_kernel_wrap_border_matches_numpy(spark):
    """`wrap` (periodic) border on the shift-and-sum path — closes the
    r2 missing-list item 5 (ref maps wrap to scipy at
    openeo_odc_driver.py:1405). Checked cell-by-cell against a numpy
    periodic convolution with the same NULL semantics (NULL centers stay
    NULL, NULL neighbors contribute 0)."""
    one_t = CubeSpec(n_times=1, ny=6, nx=6)
    c = synthetic_cube(spark, one_t)
    out = apply_kernel(c, ASYM, border="wrap")

    pdf = c.df.toPandas()
    grids = {}
    for b in ("B04", "B08", "SCL"):
        g = np.full((6, 6), np.nan)
        sub = pdf[pdf["band"] == b]
        g[((150.0 - sub["y"]) / 10).astype(int),
          (sub["x"] / 10).astype(int)] = sub["value"]
        k = np.asarray(ASYM)
        filled = np.nan_to_num(g, nan=0.0)
        exp = np.zeros_like(filled)
        for dy in range(3):
            for dx in range(3):
                if k[dy, dx] == 0:
                    continue
                # out[c] += w[o] * in[(c - o) mod N] — true convolution
                exp += k[dy, dx] * np.roll(
                    np.roll(filled, dy - 1, axis=0), dx - 1, axis=1
                )
        grids[b] = np.where(np.isnan(g), np.nan, exp)

    for r in out.df.collect():
        e = grids[r.band][int((150.0 - r.y) / 10), int(r.x / 10)]
        if r.value is None:
            assert np.isnan(e)
        else:
            assert r.value == pytest.approx(e, abs=1e-12)
    assert out.df.count() == 3 * 36  # every cell present (wrap loses none)


@pytest.mark.parametrize("border", ["replicate", "reflect", "reflect_pixel"])
def test_gather_border_modes_match_tiled_path(spark, border):
    """The round-5 gather-join shift-and-sum borders must agree with the
    tiled numpy remap exactly (same clamp/mirror arithmetic)."""
    c = synthetic_cube(spark, SMALL)
    a = apply_kernel(c, ASYM, border=border).df.withColumnRenamed("value", "va")
    b = _tiled_kernel(c, ASYM, border=border).df.withColumnRenamed(
        "value", "vb"
    )
    j = a.join(b, ["band", "time", "y", "x"], "full_outer")
    bad = j.where(
        ~(
            (F.col("va").isNull() & F.col("vb").isNull())
            | (F.abs(F.col("va") - F.col("vb")) < 1e-12)
        )
    ).count()
    assert bad == 0
