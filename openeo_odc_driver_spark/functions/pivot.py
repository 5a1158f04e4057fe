"""Band pivot: long cube → wide per-band columns.

Reducer sub-graphs over the band dimension (NDVI etc.,
``openeo_odc_driver.py:594-618``) need all bands of a pixel side by side.
In long format that is a conditional aggregation — groupBy the remaining
grid key with one ``max(CASE WHEN band = b THEN value END)`` per band: a
single shuffle, no join, and Catalyst fuses the following arithmetic into
the same stage.

The shuffle is clustered on the pixel key ``(y, x)`` only, not on the
whole group key, so a later aggregate or join keyed on pixels (a time
reduction, ``mask``, ``aggregate_temporal_period``) reuses it instead of
shuffling again. The price is the map-side partial aggregate: the pivot
ships every band row, not one partial row per pixel and partition.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, functions as F

from ..core.cube import BAND, VALUE, X, Y, Cube
from .sqltext import ident, lit


def bands_wide(cube: Cube, bands: Sequence[str] | None = None) -> DataFrame:
    bands = list(bands) if bands is not None else list(cube.schema.bands)
    group = [d for d in cube.key_dims if d != BAND]
    pixel = [d for d in (Y, X) if d in group]
    df = cube.df.repartition(*pixel) if pixel else cube.df
    aggs = [
        F.expr(f"max(CASE WHEN {BAND} = {lit(str(b))} THEN {VALUE} END)"
               f" AS {ident(b)}")
        for b in bands
    ]
    return df.groupBy(*group).agg(*aggs)
