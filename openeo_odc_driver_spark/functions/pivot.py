"""Band pivot: long cube → wide per-band columns.

Reducer sub-graphs over the band dimension (NDVI etc.,
``openeo_odc_driver.py:594-618``) need all bands of a pixel side by side.
In long format that is a conditional aggregation — groupBy the remaining
grid key with one ``max(when(band = b, value))`` per band: a single
shuffle, no join, and Catalyst fuses the following arithmetic into the
same stage.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, functions as F

from ..core.cube import BAND, VALUE, Cube


def bands_wide(cube: Cube, bands: Sequence[str] | None = None) -> DataFrame:
    bands = list(bands) if bands is not None else list(cube.schema.bands)
    group = [d for d in cube.key_dims if d != BAND]
    aggs = [
        F.max(F.when(F.col(BAND) == b, F.col(VALUE))).alias(b) for b in bands
    ]
    return cube.df.groupBy(*group).agg(*aggs)
